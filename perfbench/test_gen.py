"""Tests of the benchmark's input generators, at the sizes the runs use.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest
from collections import defaultdict

import gen


def distinct_objects(triples):
    objs = defaultdict(set)
    for s, _, o in triples:
        objs[s].add(o)
    return objs


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        for shape, make in gen.GENERATORS.items():
            with self.subTest(shape=shape):
                size = gen.SIZES[shape]
                a = gen.to_ntriples(make(3, size))
                self.assertEqual(a, gen.to_ntriples(make(3, size)))
                self.assertNotEqual(a, gen.to_ntriples(make(4, size)))

    def test_hub_lines_has_a_line_wider_than_half_the_users(self):
        users = gen.SIZES["hub"]
        triples = gen.hub_lines(5, users)
        objs = distinct_objects(triples)
        # the join line of the object <User> holds the capture o[s=u] of
        # every typed user u whose capture is frequent
        width = sum(1 for s, p, o in triples
                    if p == "<type>" and o == "<User>" and len(objs[s]) >= gen.SUPPORT)
        self.assertGreater(width, users / 2)

    def test_narrow_lines_has_no_subject_with_support_distinct_objects(self):
        objs = distinct_objects(gen.narrow_lines(5, gen.SIZES["narrow"]))
        self.assertLess(max(len(o) for o in objs.values()), gen.SUPPORT)


if __name__ == "__main__":
    unittest.main()
