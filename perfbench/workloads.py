"""The benchmark's workloads: seeded operation streams and their checks.

A workload is a stream of rounds; a round is a sequence of operations whose
composition is fixed and whose order and parameters come from the seed.
The timed loop always finishes the round it is in, so every run measures
the same mix of operation types.

- ``olap-read``: the analyst path. Read-only, on the fixture's shape at
  the sf0.01 row counts, with the layouts it routes to deployed in
  set-up. A round runs the 15 ``bench``-tagged registry queries and one
  seeded ``Engine.sql`` statement per template in :data:`OLAP_TEMPLATES`:
  routable aggregates, a row-level scan, and statements outside the
  routable family that fall through to ``spark.sql``. Fixed per-job and
  plan-build costs dominate it.
- ``dml-cdc``: writes beside reads on the same layouts. On a sandbox of
  the same data (the data dir is the sandbox: it lives in the
  benchmark's scratch dir), a round runs one UPDATE on orders and one
  MERGE, INSERT and DELETE on documents through ``Engine.sql`` in
  seeded order. Every write is followed by the three routed profile
  reads the cubes serve, and the round ends with ``Engine.optimize()``,
  a CDC poll that drains the feed, ``Engine.gc()`` and the three
  reads.

Checks run outside the timed region. Reads compare against DuckDB
running the same SQL: on the immutable input for ``olap-read``, on a
DuckDB mirror that applies the same statements for ``dml-cdc`` (DuckDB
1.0 has no MERGE, so the mirror inserts the MERGE's unmatched rows, and
the MERGE itself is also checked by comparing the routed docs profile
with ``Engine.sql(..., routed=False)`` at the same state).
"""

from __future__ import annotations

import dataclasses
import os
import random
from collections.abc import Callable, Iterator
from typing import Any

import duckdb

from bigdataproj_spark.testing import compare_frames
from datagen import LANGS, REGIONS, VOCAB

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclasses.dataclass
class Op:
    """One timed operation. ``run`` is timed and must consume its
    result; ``check`` runs afterwards on that result and raises
    AssertionError on a wrong answer."""

    kind: str
    label: str
    run: Callable[[], Any]
    check: Callable[[Any], None]


def duck(data_dir: str, tables=TABLES, copy: bool = False) -> duckdb.DuckDBPyConnection:
    """DuckDB over the input tables: views, or mutable copies."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in tables:
        kind = "TABLE" if copy else "VIEW"
        con.execute(
            f"CREATE {kind} {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
        )
    return con


def _sums() -> dict[str, str]:
    """The engine's exact-sum SQL expressions (``SUM_SQL``), so the
    statements compare bit-exact with DuckDB."""
    from bigdataproj_spark.plans.sqlfront import SUM_SQL

    return SUM_SQL


_STAR = (
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey"
)


def _regions(rng: random.Random) -> str:
    return ", ".join(f"'{r}'" for r in sorted(rng.sample(REGIONS, rng.randint(2, 4))))


def _t_pricing(rng):
    s = _sums()
    day = f"{rng.randint(1996, 2001)}-{rng.randint(1, 12):02d}-01"
    return (
        f"SELECT l_returnflag, l_linestatus, {s['quantity']} AS sum_qty, "
        f"{s['charge']} AS sum_charge, COUNT(*) AS n FROM lineitem "
        f"WHERE l_shipdate <= TIMESTAMP '{day} 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    )


def _t_mixed_star(rng):
    s = _sums()
    return (
        f"SELECT l_returnflag, r_name, {s['revenue']} AS rev, COUNT(*) AS n "
        f"{_STAR} WHERE r_name IN ({_regions(rng)}) "
        "GROUP BY l_returnflag, r_name ORDER BY l_returnflag, r_name"
    )


def _t_docs_scan(rng):
    return (
        "SELECT doc_id, source, n_chars FROM documents "
        f"WHERE lang = '{rng.choice(LANGS)}' AND n_chars >= {rng.randint(400, 550)} "
        "ORDER BY doc_id"
    )


def _t_window(rng):
    lo = rng.randint(0, 14_900)
    return (
        "SELECT o_custkey, o_orderkey, RANK() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders "
        f"WHERE o_custkey BETWEEN {lo} AND {lo + rng.randint(10, 40)} "
        "ORDER BY o_custkey, o_orderkey"
    )


def _t_cte(rng):
    return (
        "WITH big AS (SELECT o_custkey, COUNT(*) AS n FROM orders "
        f"WHERE o_totalprice > {rng.randint(300, 480) * 1000} GROUP BY o_custkey) "
        "SELECT c_mktsegment, COUNT(*) AS custs, CAST(SUM(n) AS BIGINT) AS n_orders "
        "FROM big JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    )


# One statement per template per round: two routable aggregates over
# the lineitem star, a row-level documents scan offered to the corpus
# scan router, and two shapes outside the routable family (window
# function, CTE) that run verbatim.
OLAP_TEMPLATES: tuple[Callable[[random.Random], str], ...] = (
    _t_pricing, _t_mixed_star, _t_docs_scan, _t_window, _t_cte,
)
# The layouts an olap-read round routes to, by deploy entry point
# (each deploys the layouts it is built from, e.g. the bucketed spine).
OLAP_LAYOUTS: tuple[tuple[str, tuple[str, ...]], ...] = (
    (
        "bigdataproj_spark.sources.bucketed",
        (
            "order_revenue_projection",
            "pricing_cube_table",
            "star_date_cube_table",
            "segment_cube_table",
        ),
    ),
)
# A set-up statement that is not one of the round's and needs no
# layout: it takes the engine's first-statement costs (view
# registration, the front door's first parse).
WARMUP_SQL = (
    "SELECT r_name, COUNT(*) AS n FROM nation JOIN region "
    "ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name"
)


def olap_round(rng: random.Random, registry_names: list[str]) -> list[tuple[str, str]]:
    """One olap-read round as (kind, text) pairs: ``("query", name)``
    for registry queries, ``("sql", statement)`` for Engine.sql."""
    items = [("query", n) for n in registry_names]
    items += [("sql", t(rng)) for t in OLAP_TEMPLATES]
    rng.shuffle(items)
    return items


class OlapRead:
    name = "olap-read"
    scale = 0.1
    # the first round is each statement shape's first execution; the
    # second runs the same mix again, warm
    min_rounds = 2

    def __init__(self, eng, data_dir: str, seed: int, work_dir: str):
        from bigdataproj_spark.registry import load_all

        self.eng = eng
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        reg = load_all()
        self.names = sorted(n for n, q in reg.items() if "bench" in q.tags)
        self.oracle_sql = {n: reg[n].oracle for n in self.names}
        self.con = duck(data_dir)
        self._oracle_cache: dict[str, Any] = {}

    def _oracle(self, name: str):
        if name not in self._oracle_cache:
            self._oracle_cache[name] = self.con.execute(self.oracle_sql[name]).fetchdf()
        return self._oracle_cache[name]

    def _op(self, kind: str, text: str) -> Op:
        if kind == "query":
            return Op(
                "read",
                text,
                lambda: self.eng.query(text).toPandas(),
                lambda got: compare_frames(got, self._oracle(text), text),
            )
        return Op(
            "read",
            text,
            lambda: self.eng.sql(text).toPandas(),
            lambda got: compare_frames(got, self.con.execute(text).fetchdf(), text[:60]),
        )

    def setup(self) -> list[tuple[Op, Any]]:
        """Deploy every layout the round routes to, start the session's
        Python workers (the corpus operators run ``mapInPandas``) and
        run one statement; returns that statement for checking."""
        import importlib

        spark = self.eng.spark
        for modname, names in OLAP_LAYOUTS:
            mod = importlib.import_module(modname)
            for n in names:
                getattr(mod, n)(spark, self.data_dir)
        cores = spark.sparkContext.defaultParallelism
        spark.range(0, cores, 1, cores).mapInPandas(
            lambda it: it, "id long"
        ).collect()
        op = self._op("sql", WARMUP_SQL)
        return [(op, op.run())]

    def _round(self) -> list[Op]:
        return [self._op(k, t) for k, t in olap_round(self.rng, self.names)]

    def rounds(self) -> Iterator[Iterator[Op]]:
        while True:
            yield iter(self._round())

    def close(self) -> None:
        self.con.close()


# -- dml-cdc ------------------------------------------------------------

DOCS_PROFILE = (
    "SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
    "COUNT(*) AS n FROM documents GROUP BY lang, source ORDER BY lang, source"
)
CDC_PROFILE = (
    "SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS total, COUNT(*) AS n "
    "FROM documents GROUP BY lang"
)
# one statement per verb: UPDATE on orders, MERGE, INSERT and DELETE on
# documents
WRITE_VERBS = ("update", "merge", "insert", "delete")
DML_MIRROR_TABLES = ("region", "nation", "customer", "orders", "lineitem", "documents")


def segment_profile() -> str:
    s = _sums()
    return (
        f"SELECT c_mktsegment, o_orderpriority, {s['revenue']} AS revenue, "
        f"COUNT(*) AS n {_STAR} GROUP BY c_mktsegment, o_orderpriority "
        "ORDER BY c_mktsegment, o_orderpriority"
    )


def _insert_docs(rows: list[tuple]) -> str:
    values = ", ".join(f"({k}, '{t}', '{lang}', '{src}', {n})" for k, t, lang, src, n in rows)
    return f"INSERT INTO documents (doc_id, text, lang, source, n_chars) VALUES {values}"


class DmlStatements:
    """Seeded DML statement text against a DuckDB mirror of the
    sandbox. :meth:`write` returns ``(engine_sql, mirror_sqls)``; the
    caller applies ``mirror_sqls`` once the engine has
    committed the statement. Key choices read the mirror, so the same
    seed and the same statement history give the same text."""

    def __init__(self, seed: int, con: duckdb.DuckDBPyConnection):
        self.rng = random.Random(seed)
        self.con = con
        self.next_key = 900_000_000

    def _keys(self, table: str, col: str, k: int) -> list[int]:
        """Up to ``k`` live keys of a seeded residue class (never none)."""
        mod = self.rng.randint(37, 97)
        rem = self.rng.randrange(mod)
        for where in (f"WHERE {col} % {mod} = {rem} ", ""):
            keys = [
                r[0]
                for r in self.con.execute(
                    f"SELECT {col} FROM {table} {where}ORDER BY {col} LIMIT {k}"
                ).fetchall()
            ]
            if keys:
                break
        return keys

    def _fresh(self) -> int:
        self.next_key += 1
        return self.next_key

    def _doc_rows(self) -> list[tuple]:
        r = self.rng
        rows = []
        for _ in range(r.randint(1, 5)):
            text = " ".join(r.choice(VOCAB) for _ in range(r.randint(5, 40)))
            rows.append(
                (self._fresh(), text, r.choice(LANGS), f"src{r.randrange(20)}", len(text))
            )
        return rows

    def write(self, verb: str) -> tuple[str, list[str]]:
        r = self.rng
        if verb == "update":
            if r.random() < 0.5:
                ks = ", ".join(map(str, self._keys("orders", "o_orderkey", 10)))
                sql = (
                    f"UPDATE orders SET o_orderpriority = '9-U{r.randint(0, 9)}' "
                    f"WHERE o_orderkey IN ({ks})"
                )
            else:
                sql = (
                    f"UPDATE orders SET o_orderstatus = '{r.choice('XY')}' "
                    f"WHERE o_totalprice > {r.randint(495_000, 499_000)}"
                )
            return sql, [sql]
        if verb == "merge":
            # insert-if-absent: live documents match and stay as they
            # are, fresh ones are inserted
            ids = ", ".join(map(str, self._keys("documents", "doc_id", 4)))
            rows = self._doc_rows()
            fresh = " UNION ALL ".join(
                f"SELECT CAST({k} AS BIGINT), '{t}', '{lang}', '{src}', "
                f"CAST({n} AS BIGINT)"
                for k, t, lang, src, n in rows
            )
            sql = (
                "MERGE INTO documents USING (SELECT doc_id, text, lang, source, "
                f"n_chars FROM documents WHERE doc_id IN ({ids}) UNION ALL "
                f"{fresh}) s ON doc_id = s.doc_id WHEN NOT MATCHED THEN INSERT *"
            )
            return sql, [_insert_docs(rows)]
        if verb == "insert":
            sql = _insert_docs(self._doc_rows())
            return sql, [sql]
        if verb == "delete":
            ids = ", ".join(map(str, self._keys("documents", "doc_id", 6)))
            sql = f"DELETE FROM documents WHERE doc_id IN ({ids})"
            return sql, [sql]
        raise ValueError(verb)

    def round_order(self) -> list[str]:
        verbs = list(WRITE_VERBS)
        self.rng.shuffle(verbs)
        return verbs


class DmlCdc:
    name = "dml-cdc"
    scale = 0.1
    min_rounds = 1

    def __init__(self, eng, data_dir: str, seed: int, work_dir: str):
        self.eng = eng
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.con = duck(data_dir, DML_MIRROR_TABLES, copy=True)
        self.stmts = DmlStatements(seed, self.con)
        # the profile reads after each write, each answered from a cube
        self.profiles = (
            ("segment profile", segment_profile()),
            ("docs profile", DOCS_PROFILE),
            ("lang profile", CDC_PROFILE),
        )
        self.consumer = None

    def setup(self) -> list[tuple[Op, Any]]:
        """Deploy the layouts the profile reads are answered from and
        bootstrap the CDC consumer; returns the warm reads for
        checking."""
        from bigdataproj_spark.plans.corpus_routing import current_documents
        from bigdataproj_spark.sources.bucketed import (
            bucketed_fact_tables,
            segment_cube_table,
        )
        from bigdataproj_spark.sources.corpus_cubes import docs_stats_cube_table
        from bigdataproj_spark.streaming.cdc import CdcConsumer

        spark, d = self.eng.spark, self.data_dir
        bucketed_fact_tables(spark, d)
        segment_cube_table(spark, d)
        docs_stats_cube_table(spark, d)
        self.consumer = CdcConsumer(spark, d, os.path.join(self.work_dir, "cdc_derived"))
        self.consumer.bootstrap(current_documents(spark, d))
        ops = [*self._reads(), self._poll()]
        return [(op, op.run()) for op in ops]

    def _mirror_check(self, sql: str, label: str):
        return lambda got: compare_frames(got, self.con.execute(sql).fetchdf(), label)

    def _reads(self) -> list[Op]:
        return [
            Op("read", label, lambda sql=sql: self.eng.sql(sql).toPandas(),
               self._mirror_check(sql, label))
            for label, sql in self.profiles
        ]

    def _poll(self) -> Op:
        def run():
            self.consumer.poll()
            return self.consumer.derived().toPandas()

        return Op("cdc_poll", "cdc poll", run, self._mirror_check(CDC_PROFILE, "cdc poll"))

    def _write(self, verb: str, sql: str, mirror: list[str]) -> Op:
        def check(_got):
            for m in mirror:
                self.con.execute(m)
            if verb == "merge":
                compare_frames(
                    self.eng.sql(DOCS_PROFILE).toPandas(),
                    self.eng.sql(DOCS_PROFILE, routed=False).toPandas(),
                    "merge: routed vs routed=False",
                )

        return Op(verb, sql[:60], lambda: self.eng.sql(sql).collect(), check)

    def _maintenance(self, kind: str) -> Op:
        fn = self.eng.optimize if kind == "optimize" else self.eng.gc
        return Op(kind, kind, fn, lambda _got: None)

    def rounds(self) -> Iterator[Iterator[Op]]:
        while True:
            yield self._round()

    def _round(self) -> Iterator[Op]:
        """One round, generated lazily: a write's statement text is
        drawn only after the previous ops' checks updated the mirror."""
        for verb in self.stmts.round_order():
            yield self._write(verb, *self.stmts.write(verb))
            yield from self._reads()
        yield self._maintenance("optimize")
        # drain the feed before VACUUM: gc expires the versions a
        # lagging consumer would still need (the Delta VACUUM caveat)
        yield self._poll()
        yield self._maintenance("gc")
        yield from self._reads()

    def close(self) -> None:
        self.con.close()
