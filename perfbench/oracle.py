"""Expected CIND text for a generated input, computed with DuckDB.

The SQL is the repository's own ``cind_all`` oracle
(``graft.SparkEntry.oracleSql``), dumped by the benchmark's JVM driver. Only
its opening ``triples`` CTE is swapped for the generated triples.
"""

import hashlib

import duckdb
import pyarrow as pa

ATTR = {1: "s", 2: "p", 4: "o"}


def pretty(code, v1, v2):
    """Python form of ``graft.core.ConditionCodes.prettyPrint``."""
    proj = ATTR.get((code >> 3) & 7, "")
    prim = code & 7
    first = prim & -prim
    rest = prim & ~first
    second = rest & -rest
    if second == 0:
        return f"{proj}[{ATTR[first]}={v1}]"
    return f"{proj}[{ATTR[first]}={v1},{ATTR[second]}={v2}]"


def cind_lines(rows):
    """``graft.Main.formatCind`` lines, in the CLI's output order."""
    rows = sorted(rows, key=lambda r: r[:6])
    return [f"{pretty(r[0], r[1], r[2])} < {pretty(r[3], r[4], r[5])} (support={r[6]})"
            for r in rows]


def digest(lines):
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def expected_lines(sql, triples, spill_dir):
    """CIND lines the CLI must write for ``triples`` [(s, p, o)]."""
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{spill_dir}'")
        subj, pred, obj = (list(col) for col in zip(*triples))
        con.register("gen_arrow", pa.table({"subj": subj, "pred": pred, "obj": obj}))
        con.execute("CREATE TABLE gen AS SELECT * FROM gen_arrow")
        con.unregister("gen_arrow")
        query = sql["cind_all"]
        if query.count(sql["cte"]) != 1:
            raise ValueError("oracle SQL does not open with the triple CTE")
        query = query.replace(sql["cte"], "triples AS (SELECT subj, pred, obj FROM gen)")
        return cind_lines(con.execute(query).fetchall())
    finally:
        con.close()
