"""The two workloads and the inputs each receives, generated from the seed.

Both are closed loops: a client sends its next operation only when the
previous reply has arrived.

- queries: one client runs a fixed set of QueryDefs through the noop sink,
  over vector and dedup indexes built during set-up. Its relational (`q*`)
  queries are short, so planning, job scheduling and driver gaps dominate
  them; its corpus queries (dedup, similarity) load executor CPU,
  shuffles, checkpoints and iterative jobs.
- warehouse_rw: a writer and a reader connection to `commands.SharedServer`
  over one warehouse table. Only this workload exercises SQL routing, the
  copy-on-write storage path, the server's route lock and result streaming.

A run measures whole passes (queries) or whole statement blocks
(warehouse_rw), so every query or statement kind carries equal weight in
every run. The query set is a fixed subset sized so that one run fits the
benchmark's time budget; the seed changes only the order of each pass and
the generated statements.
"""
import random

# Every eleventh relational query in name order: a fixed systematic sample
# that spans scans, rollups, anti and range joins, scalar functions,
# statistical aggregates and the TPC-H shapes.
RELATIONAL = [
    "q01_scan_filter", "q14_rollup", "q25_join_anti", "q40_math_fns",
    "q54_range_join", "q67_regression_aggs", "q78_tpch_large_orders",
    "q89_tpch_dormant_accounts",
]

# Corpus queries, each chosen for the layer it loads:
CORPUS = [
    "d87_dedup_components",       # iterative connected-components rounds
    "d101_incremental_near_dup",  # probes the stored dedup index
    "s100_pq_adc_search",         # PQ kernel over the stored vector index
]

# Queries that must be served from an index built during set-up. If the
# index is missing after set-up they would time the inline-training
# fallback instead, so they count as failed.
INDEX_SERVED = {
    "d101_incremental_near_dup": "dedup",
    "s100_pq_adc_search": "vector",
}

QUERIES = RELATIONAL + CORPUS
WORKLOADS = ["queries", "warehouse_rw"]

# passes/blocks generated per run: far more than a run can use
MAX_PASSES = 200
MAX_BLOCKS = 200

TABLE = "wh_lineitem"
COLUMNS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
           "l_quantity", "l_extendedprice", "l_discount", "l_returnflag"]
SELECT_BASE = f"SELECT {', '.join(COLUMNS)} FROM lineitem"
ORDERKEYS = 15000  # l_orderkey spans [0, ORDERKEYS) at sf0.01

# two of each write kind, so each is measured twice in a one-block run
WRITER_BLOCK = ["insert", "update", "delete", "merge", "optimize"] * 2
READER_BLOCK = ["read_point", "read_range", "read_agg"]
WRITER_KINDS = sorted(set(WRITER_BLOCK))


# Runs of each relational query per pass. They are short and noisy, so a
# pass takes three samples of each; the corpus queries run once.
RELATIONAL_REPEAT = 3


def query_inputs(seed):
    """Warm-up order (each query once) and timed pass orders of the
    queries workload."""
    rng = random.Random(seed)
    warm = list(QUERIES)
    rng.shuffle(warm)
    passes = []
    for _ in range(MAX_PASSES):
        p = RELATIONAL * RELATIONAL_REPEAT + CORPUS
        rng.shuffle(p)
        passes.append(p)
    return {"warmup_order": warm, "passes": passes}


class Statements:
    """Seeded warehouse statements. Each is a dict with the `kind`, the
    `sql` sent to the engine and, for writes, the `duck` statements that
    replay its effect in DuckDB."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.inserted = 0
        self.merged = 0

    def make(self, kind):
        return getattr(self, kind)()

    def insert(self):
        rows = []
        for i in range(5):
            self.inserted += 1
            rows.append("({}, {}, {}, {}, {}.0, {:.2f}, {:.2f}, 'N')".format(
                1_000_000 + self.inserted, i + 1, self.rng.randint(1, 2000),
                self.rng.randint(1, 100), self.rng.randint(1, 50),
                self.rng.uniform(900, 100000), self.rng.randint(0, 10) / 100))
        sql = f"INSERT INTO {TABLE} VALUES {', '.join(rows)}"
        return {"kind": "insert", "sql": sql, "duck": [sql]}

    def update(self):
        a = self.rng.randrange(ORDERKEYS - 20)
        sql = (f"UPDATE {TABLE} SET l_quantity = l_quantity + 1 "
               f"WHERE l_orderkey BETWEEN {a} AND {a + 19}")
        return {"kind": "update", "sql": sql, "duck": [sql]}

    def delete(self):
        a = self.rng.randrange(ORDERKEYS - 5)
        sql = f"DELETE FROM {TABLE} WHERE l_orderkey BETWEEN {a} AND {a + 4}"
        return {"kind": "delete", "sql": sql, "duck": [sql]}

    def merge(self):
        """Upsert: three existing keys (updated) and one new key (inserted).
        DuckDB has no MERGE, so the replay is the equivalent
        update-then-insert, with the unmatched rows found first."""
        self.merged += 1
        keys = self.rng.sample(range(ORDERKEYS), 3) + [2_000_000 + self.merged]
        vals = ", ".join(f"({k}, 1, {self.rng.randint(1, 5)}.0)" for k in keys)
        on = "t.l_orderkey = s.k AND t.l_linenumber = s.ln"
        sql = (f"MERGE INTO {TABLE} t USING (SELECT * FROM VALUES {vals} "
               f"AS v(k, ln, dq)) s ON {on} "
               "WHEN MATCHED THEN UPDATE SET l_quantity = t.l_quantity + s.dq "
               "WHEN NOT MATCHED THEN INSERT (l_orderkey, l_linenumber, "
               "l_quantity) VALUES (s.k, s.ln, s.dq)")
        duck = [
            f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM (VALUES {vals}) "
            "v(k, ln, dq)",
            "CREATE OR REPLACE TEMP TABLE nm AS SELECT * FROM s WHERE NOT "
            f"EXISTS (SELECT 1 FROM {TABLE} t WHERE {on})",
            f"UPDATE {TABLE} t SET l_quantity = t.l_quantity + s.dq FROM s "
            f"WHERE {on}",
            f"INSERT INTO {TABLE} (l_orderkey, l_linenumber, l_quantity) "
            "SELECT k, ln, dq FROM nm",
        ]
        return {"kind": "merge", "sql": sql, "duck": duck}

    def optimize(self):
        return {"kind": "optimize", "sql": f"OPTIMIZE {TABLE}", "duck": []}

    def read_point(self):
        k = self.rng.randrange(ORDERKEYS)
        return {"kind": "read_point", "sql":
                "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
                f"FROM {TABLE} WHERE l_orderkey = {k}"}

    def read_range(self):
        a = self.rng.randrange(ORDERKEYS - 500)
        return {"kind": "read_range", "sql":
                f"SELECT COUNT(*) AS n, SUM(l_quantity) AS q FROM {TABLE} "
                f"WHERE l_orderkey BETWEEN {a} AND {a + 499}"}

    def read_agg(self):
        return {"kind": "read_agg", "sql":
                "SELECT l_returnflag, COUNT(*) AS n, SUM(l_extendedprice) AS "
                f"rev FROM {TABLE} GROUP BY l_returnflag"}

    def blocks(self, kinds, n):
        out = []
        for _ in range(n):
            b = kinds[:]
            self.rng.shuffle(b)
            out += [self.make(k) for k in b]
        return out


def warehouse_inputs(seed):
    """Warm-up statements (one of each kind, on one connection) and the
    writer's and reader's timed streams."""
    st = Statements(seed)
    return {
        "table": TABLE,
        "create_sql": f"CREATE TABLE {TABLE} AS {SELECT_BASE}",
        "warmup": st.blocks(READER_BLOCK, 1) + st.blocks(WRITER_KINDS, 1),
        "writer": st.blocks(WRITER_BLOCK, MAX_BLOCKS),
        "reader": st.blocks(READER_BLOCK, MAX_BLOCKS),
        "writer_block": len(WRITER_BLOCK),
        "reader_block": len(READER_BLOCK),
    }
