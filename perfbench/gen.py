"""Seeded N-Triples generators for the two input shapes of the benchmark.

Both run in one process with no threads, and the same (shape, seed, size)
always gives the same bytes. Degrees are fixed by the entity's index and
only the targets are drawn, so the triple count and the degree
distribution do not change with the seed.

hub_lines
    A social-style graph: every user has ``type User`` and one of 40
    ``country`` values, and likes items and follows users, 3 to 12 of each,
    with targets drawn Zipf(0.5) and every (likes, follows) degree pair
    equally common. Nearly every user then has at least
    ``support`` distinct objects, so the object ``User`` sits in nearly every
    user's ``o[s=u]`` capture: one join line about as wide as the user
    count, whose pair work grows with its square.

narrow_lines
    A TPC-H-shaped relational graph: customers, orders and line items with
    foreign-key objects and low-cardinality attributes. No subject has
    ``support`` or more distinct objects, so every join line stays narrow
    and the cost sits in capture fan-out, pruning and line formation.
"""

import bisect
import random

SUPPORT = 10

# users for hub_lines, customers for narrow_lines
SIZES = {"hub": 2000, "narrow": 1400}


def _zipf_sampler(rng, n, s):
    """Draws from 0..n-1 with P(k) proportional to 1 / (k + 1) ** s."""
    cum = []
    total = 0.0
    for k in range(n):
        total += 1.0 / (k + 1) ** s
        cum.append(total)
    return lambda: bisect.bisect_left(cum, rng.random() * total)


def _distinct(draw, k):
    """k distinct draws from ``draw``."""
    seen = set()
    while len(seen) < k:
        seen.add(draw())
    return sorted(seen)


def hub_lines(seed, users):
    """Triples of the social-style graph, as (subject, predicate, object)."""
    rng = random.Random(seed)
    items = max(50, users // 2)
    item = _zipf_sampler(rng, items, 0.5)
    person = _zipf_sampler(rng, users, 0.5)
    out = []
    for u in range(users):
        s = f"<u{u}>"
        out.append((s, "<type>", "<User>"))
        out.append((s, "<country>", f"<c{rng.randrange(40)}>"))
        for i in _distinct(item, 3 + u % 10):
            out.append((s, "<likes>", f"<i{i}>"))
        for v in _distinct(person, 3 + u // 10 % 10):
            out.append((s, "<follows>", f"<u{v}>"))
    return out


def narrow_lines(seed, customers):
    """Triples of the relational graph, as (subject, predicate, object)."""
    rng = random.Random(seed)
    nations, parts, suppliers = 25, max(40, customers // 5), max(20, customers // 50)
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW"]
    modes = ["AIR", "FOB", "MAIL", "RAIL", "REG", "SHIP", "TRUCK"]
    out = []
    for n in range(nations):
        out.append((f"<nation{n}>", "<region>", f"<region{n % 5}>"))
    for p in range(parts):
        out.append((f"<part{p}>", "<brand>", f"<Brand{rng.randrange(25)}>"))
        out.append((f"<part{p}>", "<size>", f"<Size{rng.randrange(50)}>"))
    for p in range(suppliers):
        out.append((f"<supp{p}>", "<nation>", f"<nation{rng.randrange(nations)}>"))
    order = 0
    for c in range(customers):
        cs = f"<cust{c}>"
        out.append((cs, "<nation>", f"<nation{rng.randrange(nations)}>"))
        out.append((cs, "<segment>", f"<{rng.choice(segments)}>"))
        for _ in range(5 + c % 11):
            os_ = f"<ord{order}>"
            order += 1
            out.append((os_, "<customer>", cs))
            out.append((os_, "<status>", f"<{rng.choice('FOP')}>"))
            out.append((os_, "<priority>", f"<{rng.choice(priorities)}>"))
            for ln in range(1 + order % 7):
                li = f"<li{order}_{ln}>"
                out.append((li, "<order>", os_))
                out.append((li, "<part>", f"<part{rng.randrange(parts)}>"))
                out.append((li, "<supplier>", f"<supp{rng.randrange(suppliers)}>"))
                out.append((li, "<shipmode>", f"<{rng.choice(modes)}>"))
    return out


GENERATORS = {"hub": hub_lines, "narrow": narrow_lines}


def to_ntriples(triples):
    return "".join(f"{s} {p} {o} .\n" for s, p, o in triples).encode("ascii")
