"""``analytics``: one client runs a seeded-order mix of read-only verb
pipelines over sf0.1 parquet, read from disk on every query, and checks
each collected result against DuckDB SQL on the same files.

A round runs every query of the mix once, in a seeded order, each with
seeded predicate constants. Per query the timed span is plan build (the
verb calls) through rows on the driver (``collect``).
"""

from __future__ import annotations

import numpy as np

from cuplyr_spark import agg as A
from cuplyr_spark import desc
from cuplyr_spark.pipeline import similarity as S
from cuplyr_spark.sources import readers

from common import Workload, frames_equal, median, tail

WHY = (
    "per-query fixed cost dominates: plan build in frame and Spark job "
    "scheduling; no storage writes and no Python UDFs"
)

_EXACT_REV = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)
_COS = (
    "round(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)


def _day(rng: np.random.Generator, lo: str, hi: str) -> str:
    span = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    return str(np.datetime64(lo) + int(rng.integers(0, span)))


def _segment(rng) -> str:
    return str(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]))


class Query:
    """One entry of the mix: seeded ``params``, a library ``build`` and
    the DuckDB ``sql`` for the same parameters. ``order`` is set when
    the query defines its row order (rows then compare in order);
    otherwise they compare as a multiset."""

    name: str
    order: tuple | None = None
    loose: tuple = ()  # columns that may differ where the other columns tie

    def params(self, rng) -> dict: ...
    def build(self, t, p): ...
    def sql(self, p) -> str: ...


class GroupSummarise(Query):
    name = "group_summarise"

    def params(self, rng):
        return {"ship": _day(rng, "1996-01-01", "2001-06-01")}

    def build(self, t, p):
        return (
            t("lineitem").filter(f"l_shipdate < '{p['ship']}'")
            .group_by("l_returnflag", "l_linestatus")
            .summarise(sum_qty=A.sum("l_quantity"), sum_price=A.sum("l_extendedprice"),
                       avg_qty=A.mean("l_quantity"), min_qty=A.min("l_quantity"),
                       max_qty=A.max("l_quantity"), n=A.n(), sd_qty=A.sd("l_quantity"))
        )

    def sql(self, p):
        return f"""SELECT l_returnflag, l_linestatus, sum(l_quantity) sum_qty,
            sum(l_extendedprice) sum_price, avg(l_quantity) avg_qty,
            min(l_quantity) min_qty, max(l_quantity) max_qty, count(*) n,
            stddev_samp(l_quantity) sd_qty
            FROM lineitem WHERE l_shipdate < TIMESTAMP '{p['ship']}' GROUP BY 1, 2"""


class FilterSelect(Query):
    name = "filter_select"

    def params(self, rng):
        return {"qty": int(rng.integers(30, 35)), "disc": round(float(rng.integers(5, 7)) / 100, 2),
                "flag": str(rng.choice(["A", "N", "R"]))}

    def build(self, t, p):
        return (
            t("lineitem").filter(f"l_quantity > {p['qty']}", f"l_discount < {p['disc']}",
                                 f"l_returnflag == '{p['flag']}'")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        )

    def sql(self, p):
        return f"""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
            WHERE l_quantity > {p['qty']} AND l_discount < {p['disc']} AND l_returnflag = '{p['flag']}'"""


class WorkflowComplete(Query):
    name = "workflow_complete"

    def params(self, rng):
        return {"qty": int(rng.integers(5, 16)), "disc": round(float(rng.integers(6, 10)) / 100, 2)}

    def build(self, t, p):
        return (
            t("lineitem").filter(f"l_quantity > {p['qty']}", f"l_discount < {p['disc']}")
            .mutate(revenue="l_extendedprice * (1 - l_discount)")
            .group_by("l_returnflag", "l_linestatus")
            .summarise(n=A.n(), avg_qty=A.mean("l_quantity"), total_revenue=A.sum("revenue"))
        )

    def sql(self, p):
        return f"""SELECT l_returnflag, l_linestatus, count(*) n, avg(l_quantity) avg_qty,
            sum(l_extendedprice * (1 - l_discount)) total_revenue FROM lineitem
            WHERE l_quantity > {p['qty']} AND l_discount < {p['disc']} GROUP BY 1, 2"""


class JoinAggPipeline(Query):
    name = "join_agg_pipeline"
    order = ("n_name",)

    def params(self, rng):
        return {"seg": _segment(rng)}

    def build(self, t, p):
        cust = t("customer").filter(f"c_mktsegment == '{p['seg']}'")
        return (
            t("lineitem").inner_join(t("orders"), by={"l_orderkey": "o_orderkey"}, na_matches="never")
            .inner_join(cust.broadcast(), by={"o_custkey": "c_custkey"}, na_matches="never")
            .inner_join(t("nation").broadcast(), by={"c_nationkey": "n_nationkey"}, na_matches="never")
            .mutate(revenue=_EXACT_REV)
            .group_by("n_name")
            .summarise(revenue=A.sum("revenue"), n_lines=A.n())
            .arrange(desc("revenue"), "n_name")
        )

    def sql(self, p):
        return f"""SELECT n_name, sum({_EXACT_REV}) revenue, count(*) n_lines
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
            WHERE c_mktsegment = '{p['seg']}' GROUP BY n_name ORDER BY revenue DESC, n_name"""


class WindowTopN(Query):
    """Top-n lines per order by price; the output drops the line number,
    so a price tie at the cut cannot change the result."""
    name = "window_topn_per_group"

    def params(self, rng):
        return {"kmax": int(rng.integers(10_000, 12_001)), "n": 3}

    def build(self, t, p):
        return (
            t("lineitem").filter(f"l_orderkey < {p['kmax']}")
            .group_by("l_orderkey")
            .slice_max("l_extendedprice", n=p["n"])
            .ungroup()
            .select("l_orderkey", "l_extendedprice")
        )

    def sql(self, p):
        return f"""SELECT l_orderkey, l_extendedprice FROM (
            SELECT l_orderkey, l_extendedprice, row_number() OVER (
              PARTITION BY l_orderkey ORDER BY l_extendedprice DESC) rk
            FROM lineitem WHERE l_orderkey < {p['kmax']}) WHERE rk <= {p['n']}"""


class TpchQ1(Query):
    name = "tpch_q1"
    order = ("l_returnflag", "l_linestatus")

    def params(self, rng):
        return {"ship": _day(rng, "1999-06-01", "2001-12-01")}

    def build(self, t, p):
        return (
            t("lineitem").filter(f"l_shipdate <= '{p['ship']}'")
            .mutate(disc_price="l_extendedprice * (1 - l_discount)",
                    charge="l_extendedprice * (1 - l_discount) * (1 + l_tax)")
            .group_by("l_returnflag", "l_linestatus")
            .summarise(sum_qty=A.sum("l_quantity"), sum_base_price=A.sum("l_extendedprice"),
                       sum_disc_price=A.sum("disc_price"), sum_charge=A.sum("charge"),
                       avg_qty=A.mean("l_quantity"), avg_price=A.mean("l_extendedprice"),
                       avg_disc=A.mean("l_discount"), count_order=A.n())
            .arrange("l_returnflag", "l_linestatus")
        )

    def sql(self, p):
        return f"""SELECT l_returnflag, l_linestatus, sum(l_quantity) sum_qty,
            sum(l_extendedprice) sum_base_price,
            sum(l_extendedprice * (1 - l_discount)) sum_disc_price,
            sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) sum_charge,
            avg(l_quantity) avg_qty, avg(l_extendedprice) avg_price,
            avg(l_discount) avg_disc, count(*) count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '{p['ship']}'
            GROUP BY 1, 2 ORDER BY 1, 2"""


class TpchQ3(Query):
    name = "tpch_q3"
    order = ("revenue", "l_orderkey")

    def params(self, rng):
        return {"seg": _segment(rng), "day": _day(rng, "1997-06-01", "1998-06-01")}

    def build(self, t, p):
        cust = t("customer").filter(f"c_mktsegment == '{p['seg']}'")
        orders = t("orders").filter(f"o_orderdate < '{p['day']}'")
        li = t("lineitem").filter(f"l_shipdate > '{p['day']}'")
        return (
            li.inner_join(orders, by={"l_orderkey": "o_orderkey"}, na_matches="never")
            .inner_join(cust.broadcast(), by={"o_custkey": "c_custkey"}, na_matches="never")
            .mutate(rev=_EXACT_REV)
            .group_by("l_orderkey")
            .summarise(revenue=A.sum("rev"))
            .arrange(desc("revenue"), "l_orderkey")
            .head(10)
        )

    def sql(self, p):
        return f"""SELECT l_orderkey, sum({_EXACT_REV}) revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = '{p['seg']}' AND o_orderdate < TIMESTAMP '{p['day']}'
              AND l_shipdate > TIMESTAMP '{p['day']}'
            GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10"""


class TpchQ9(Query):
    name = "tpch_q9"
    order = ("n_name", "o_year")
    _AMOUNT = (
        "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"
        " - CAST(round(p_retailprice * 100) AS BIGINT) * CAST(round(l_quantity) AS BIGINT) * 100"
    )

    def params(self, rng):
        return {"word": str(rng.choice(["bolt", "ring", "gear", "nut", "screw", "valve", "pipe", "spring"]))}

    def build(self, t, p):
        part = t("part").filter(f"p_name LIKE '%{p['word']}%'").select("p_partkey", "p_retailprice")
        supp = (
            t("supplier").inner_join(t("nation").broadcast(), by={"s_nationkey": "n_nationkey"},
                                     na_matches="never")
            .select("s_suppkey", "n_name")
        )
        orders = t("orders").select("o_orderkey", "o_orderdate")
        return (
            t("lineitem").inner_join(part.broadcast(), by={"l_partkey": "p_partkey"}, na_matches="never")
            .inner_join(supp.broadcast(), by={"l_suppkey": "s_suppkey"}, na_matches="never")
            .inner_join(orders, by={"l_orderkey": "o_orderkey"}, na_matches="never")
            .mutate(o_year="year(o_orderdate)", amount=self._AMOUNT)
            .group_by("n_name", "o_year")
            .summarise(sum_profit=A.sum("amount"))
            .arrange("n_name", desc("o_year"))
        )

    def sql(self, p):
        return f"""SELECT n_name, year(o_orderdate) o_year, sum({self._AMOUNT}) sum_profit
            FROM lineitem JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%{p['word']}%' GROUP BY 1, 2 ORDER BY n_name, o_year DESC"""


class TpchQ18(Query):
    name = "tpch_q18"
    order = ("o_totalprice", "l_orderkey")

    def params(self, rng):
        return {"qty": int(rng.integers(150, 191))}

    def build(self, t, p):
        big = (
            t("lineitem").group_by("l_orderkey").summarise(sum_qty=A.sum("l_quantity"))
            .filter(f"sum_qty > {p['qty']}")
        )
        return (
            big.inner_join(t("orders"), by={"l_orderkey": "o_orderkey"}, na_matches="never")
            .inner_join(t("customer"), by={"o_custkey": "c_custkey"}, na_matches="never")
            .select("c_name", "o_custkey", "l_orderkey", "o_totalprice", "sum_qty")
            .arrange(desc("o_totalprice"), "l_orderkey")
            .head(100)
        )

    def sql(self, p):
        return f"""WITH big AS (SELECT l_orderkey, sum(l_quantity) sum_qty FROM lineitem
              GROUP BY l_orderkey HAVING sum(l_quantity) > {p['qty']})
            SELECT c_name, o_custkey, l_orderkey, o_totalprice, sum_qty FROM big
            JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, l_orderkey LIMIT 100"""


class EmbeddingTopK(Query):
    """Exact cosine top-5 for ~10 seeded query vectors. Scores are
    rounded to 6 decimals by both engines; a neighbour may differ only
    where the two scores agree (a tie at that precision)."""
    name = "embedding_cosine_topk"
    loose = ("neighbor_id",)

    def params(self, rng):
        m = int(rng.integers(180, 221))
        return {"m": m, "r": int(rng.integers(0, m))}

    def build(self, t, p):
        return S.cosine_topk(t("embeddings"), k=5, query_filter=f"vec_id % {p['m']} == {p['r']}")

    def sql(self, p):
        return f"""WITH q AS (SELECT vec_id query_id, embedding qv FROM embeddings
              WHERE vec_id % {p['m']} = {p['r']}),
            scored AS (SELECT q.query_id, e.vec_id neighbor_id, {_COS.format(a='q.qv', b='e.embedding')} score
              FROM embeddings e, q WHERE q.query_id <> e.vec_id)
            SELECT query_id, neighbor_id, score, rank FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS INT) rank FROM scored)
            WHERE rank <= 5"""


MIX = [GroupSummarise(), FilterSelect(), WorkflowComplete(), JoinAggPipeline(), WindowTopN(),
       TpchQ1(), TpchQ3(), TpchQ9(), TpchQ18(), EmbeddingTopK()]


class Analytics(Workload):
    name = "analytics"
    why = WHY
    op_span_metrics = {"pipeline.similarity.topk_s": "analytics.embedding_cosine_topk"}

    def issue_metrics(self):
        q = [o["s"] for o in self.ops if o["ok"] and not o["traced"]]
        pct, q_tail = tail(q)
        return {"query_s.p50": (median(q), "s"),
                f"query_s.tail (p{pct:.4g} of {len(q)})": (q_tail, "s")}

    def setup_inputs(self, rng):
        import duckdb

        import datagen

        tables = datagen.tpch_tables(rng)
        tables["embeddings"] = datagen.embeddings(rng)
        sizes = datagen.write_tables(tables, self.data_dir)
        self.paths = {n: f"{self.data_dir}/{n}.parquet" for n in tables}
        self.duck = duckdb.connect(config={"threads": self.cores,
                                           "temp_directory": f"{self.work_dir}/tmp"})
        for n, path in self.paths.items():
            self.duck.execute(f"CREATE OR REPLACE VIEW {n} AS SELECT * FROM read_parquet('{path}')")
        return sizes

    def _table(self, name):
        return readers.read_parquet(self.spark, self.paths[name])

    def query(self, q: Query, p: dict) -> bool:
        """One op: plan build (the verb calls) through rows on the driver,
        then the DuckDB check outside the timed span."""
        with self.timed(f"analytics.{q.name}"):
            with self.tracer.span("bench.plan"):
                out = q.build(self._table, p)
            with self.tracer.span("bench.collect"):
                got = out.collect()
        self.note_frame(out)
        want = self.duck.execute(q.sql(p)).df()
        return frames_equal(got, want, q.order, q.loose)

    def prepare(self):
        # the session's first query pays its class loading and reader
        # set-up; the rest of the JIT warm-up lands in unit 0
        q = MIX[0]
        if not self.query(q, q.params(np.random.default_rng(0))):
            raise RuntimeError(f"first query result mismatch: {q.name}")

    def run_unit(self, rng):
        for i in rng.permutation(len(MIX)):
            q = MIX[i]
            self.attempt(f"analytics.{q.name}", self.query, q, q.params(rng))

    def close(self):
        self.duck.close()
