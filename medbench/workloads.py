"""The three workloads: medallion batches, lake DML, corpus ingest.

Each builds its inputs with :mod:`gen`, drives the engine only through
its public functions, and checks the outputs with duckdb/pyarrow over
the generated inputs, never with the engine itself.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import Workload, median


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_files(path: str) -> set[str]:
    return set(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def once_bytes(table: pa.Table, path: str) -> int:
    """Size of ``table`` written once as Snappy parquet."""
    pq.write_table(table, path, compression="snappy")
    size = os.path.getsize(path)
    os.remove(path)
    return size


# ---------------------------------------------------------------------------
# medallion_batch
# ---------------------------------------------------------------------------

READS = 3  # consumer reads after each medallion batch or corpus batch
GOLD = "fact_revenue_by_segment"
WARM_BATCHES = 3

ORACLE_GOLD = """
WITH o AS (SELECT * FROM read_parquet('{orders}') WHERE NOT (o_totalprice < 0)),
o1 AS (SELECT o_orderkey, arg_max(o_custkey, o_orderdate) AS o_custkey
       FROM o GROUP BY o_orderkey),
c AS (SELECT * FROM read_parquet('{customer}')
      WHERE NOT (c_mktsegment IS NULL OR trim(c_mktsegment) = '')),
c1 AS (SELECT c_custkey, arg_max(c_mktsegment, c_acctbal) AS seg
       FROM c GROUP BY c_custkey),
l AS (SELECT * FROM read_parquet('{lineitem}') WHERE NOT (l_quantity <= 0)),
l1 AS (SELECT l_orderkey, arg_max(l_extendedprice, l_shipdate) AS p,
              arg_max(l_discount, l_shipdate) AS d
       FROM l GROUP BY l_orderkey, l_linenumber)
SELECT coalesce(c1.seg, 'UNKNOWN') AS seg, count(*) AS n, sum(p * (1 - d)) AS rev
FROM l1 JOIN o1 ON l1.l_orderkey = o1.o_orderkey
LEFT JOIN c1 ON o1.o_custkey = c1.c_custkey
GROUP BY 1
"""


def same_gold(got, want) -> bool:
    """Rows (segment, n_items, revenue); Spark rounds revenue to cents."""
    g = {r[0]: (int(r[1]), float(r[2])) for r in got}
    w = {r[0]: (int(r[1]), float(r[2])) for r in want}
    return g.keys() == w.keys() and all(
        g[k][0] == w[k][0] and abs(g[k][1] - w[k][1]) <= 0.006 + 1e-9 * abs(w[k][1])
        for k in w
    )


class Medallion(Workload):
    name = "medallion_batch"
    kinds = ("batch", "read")
    group_s = 4.7

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        # ~240k raw rows a batch, about a third of an sf0.1 slice: about
        # a third of a batch's wall then grows with the rows, the rest is
        # fixed cost per job (an sf0.1 slice would allow two batches a run)
        self.n_orders = max(20, int(45_000 * scale))
        self.lake = os.path.join(work, "lake")
        self.landed: list[dict] = []  # generated batch info, in landing order
        self.reads: list[tuple[str, list]] = []

    def bootstrap(self):
        from pyspark.sql import functions as F

        from aws_medallion_etl_spark import pipeline
        from aws_medallion_etl_spark.operators import validate

        # the same specs and gold builder as bench.py's pipeline run
        self.specs = {
            "orders": pipeline.TableSpec(
                "orders",
                rules=lambda: [validate.Rule("neg_price", F.col("o_totalprice") < 0)],
                nk=["o_orderkey"], dedup_order=["o_orderdate"],
            ),
            "customer": pipeline.TableSpec(
                "customer",
                rules=lambda: [validate.Rule("no_seg", validate.null_or_blank("c_mktsegment"))],
                nk=["c_custkey"], dedup_order=["c_acctbal"],
            ),
            "lineitem": pipeline.TableSpec(
                "lineitem",
                rules=lambda: [validate.Rule("bad_qty", F.col("l_quantity") <= 0)],
                nk=["l_orderkey", "l_linenumber"], dedup_order=["l_shipdate"],
            ),
        }

        def fact_revenue_by_segment(spark, out_dir, run_date):
            li = spark.read.parquet(f"{out_dir}/silver/lineitem")
            o = spark.read.parquet(f"{out_dir}/silver/orders")
            c = spark.read.parquet(f"{out_dir}/silver/customer")
            return (
                li.where(F.col("run_date") == run_date)
                .join(o.select("o_orderkey", "o_custkey"),
                      li["l_orderkey"] == F.col("o_orderkey"))
                .join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
                      F.col("o_custkey") == F.col("c_custkey"), "left")
                .fillna({"c_mktsegment": "UNKNOWN"})
                .groupBy("c_mktsegment")
                .agg(F.count(F.lit(1)).alias("n_items"),
                     F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                     .alias("revenue"))
            )

        self.gold_builders = {GOLD: fact_revenue_by_segment}

    def _group(self, b: int):
        from pyspark.sql import functions as F

        from aws_medallion_etl_spark import io, pipeline

        info = gen.medallion_batch(self.seed, b, self.work, self.n_orders)
        d = info["run_date"]

        def land():
            sources = {t: self.spark.read.parquet(p) for t, p in info["files"].items()}
            pipeline.run_pipeline(self.spark, sources, self.specs,
                                  self.gold_builders, self.lake, d)
            self.landed.append(info)

        def read():
            rows = (io.read_parquet(self.spark, f"{self.lake}/gold/{GOLD}")
                    .where(F.col("run_date") == d).collect())
            self.reads.append((d, [(r["c_mktsegment"], r["n_items"], r["revenue"])
                                   for r in rows]))

        return [("batch", land, info["rows"]), *[("read", read, 0)] * READS]

    def warm_up(self):
        """Three batches: the JIT is still warming after the first
        two (the timed batches of a run kept getting faster after two)."""
        import time

        for b in range(WARM_BATCHES):
            t = time.monotonic()
            group = self._group(b)
            self.untimed += time.monotonic() - t
            for kind, fn, rows in group:
                self.run_op(kind, fn, rows, timed=False)

    def groups(self):
        b = WARM_BATCHES
        while True:
            yield self._group(b)
            b += 1

    def install_wrappers(self, tracer):
        from aws_medallion_etl_spark import io, pipeline

        tracer.wrap(pipeline, "run_bronze_table", "pipeline.bronze")
        tracer.wrap(pipeline, "run_silver_table", "pipeline.silver")
        tracer.wrap(pipeline, "run_gold", "pipeline.gold")
        layer_calls: dict[int, int] = {}

        def layer_name():
            op = tracer.current().op
            k = layer_calls[op] = layer_calls.get(op, 0) + 1
            return "pipeline.layer.bronze" if k == 1 else "pipeline.layer.silver"

        tracer.wrap(pipeline, "_run_layer", layer_name)

        def before(args, kwargs):
            return args[1], parquet_files(args[1])

        def after(span, state, args, kwargs, out):
            path, old = state
            span.extra["files"] = len(parquet_files(path) - old)

        tracer.wrap(io, "write_parquet", "io.write_parquet", before, after)

    def layer_metrics(self, prof):
        out = {}
        for layer in ("bronze", "silver", "gold"):
            out[f"pipeline.{layer}.s"] = prof.seconds(f"pipeline.{layer}")
            out[f"pipeline.{layer}.jobs"] = prof.jobs(f"pipeline.{layer}")
        stage_wall: dict[int, float] = {}
        layer_wall: dict[int, float] = {}
        for s in prof.spans:
            if s.name in ("pipeline.bronze", "pipeline.silver"):
                stage_wall[s.op] = stage_wall.get(s.op, 0.0) + s.t1 - s.t0
            elif s.name.startswith("pipeline.layer."):
                layer_wall[s.op] = layer_wall.get(s.op, 0.0) + s.t1 - s.t0
        out["pipeline.overlap"] = median(
            [stage_wall[op] / layer_wall[op] for op in layer_wall if op in stage_wall])
        out["io.write_parquet.s"] = prof.seconds("io.write_parquet")
        out["io.write_parquet.files"] = prof.extra("io.write_parquet", "files")
        return out

    def verify(self):
        con = duckdb.connect()
        pattern = f"{self.lake}/gold/{GOLD}/*/*.parquet"
        on_disk: dict[str, list] = {}
        for d, seg, n, rev in con.execute(
            f"SELECT run_date, c_mktsegment, n_items, revenue "
            f"FROM read_parquet('{pattern}', hive_partitioning=true)"
        ).fetchall():
            on_disk.setdefault(str(d), []).append((seg, n, rev))
        for info in self.landed:
            d = info["run_date"]
            want = con.execute(ORACLE_GOLD.format(**info["files"])).fetchall()
            self.check(same_gold(on_disk.get(d, []), want), f"gold partition {d}")
            for rd, got in self.reads:
                if rd == d:
                    self.check(same_gold(got, want), f"gold read {d}")
            for t, planted in info["rejects"].items():
                rep = f"{self.lake}/bronze/_reports/run_date={d}/{t}_report.json"
                with open(rep) as fh:
                    got = json.load(fh).get("rejected")
                self.check(got == planted, f"bronze rejects {t} {d}: {got} != {planted}")
        self.check(bool(self.landed), "no batch landed")

    def corrupt(self):
        """Rewrite one gold partition with one revenue changed."""
        d = self.landed[-1]["run_date"]
        for f in glob.glob(f"{self.lake}/gold/{GOLD}/run_date={d}/*.parquet"):
            t = pq.read_table(f)
            if t.num_rows:
                rev = t.column("revenue").to_numpy().copy()
                rev[0] += 1.0
                pq.write_table(t.set_column(t.schema.get_field_index("revenue"),
                                            "revenue", pa.array(rev)), f)
                return

    def space_amp(self):
        raw = sum(os.path.getsize(p) for info in self.landed
                  for p in info["files"].values())
        return du(self.lake) / raw


# ---------------------------------------------------------------------------
# lake_dml
# ---------------------------------------------------------------------------

GROUP_COLS = ["l_returnflag", "l_linestatus", "l_shipyear"]
SUMS = {"qty": "l_quantity", "cents": "l_price_cents"}
READ_SQL = ("SELECT l_returnflag, count(*), sum(l_quantity), sum(l_price_cents) "
            "FROM t GROUP BY 1")
# one cycle is the untraced phase at --seconds 25: three merges and
# every other commit kind. The MV is refreshed after each merge, and that
# refresh also folds in the delete, update or compact before it.
COMMIT_CYCLE = ("merge", "delete", "merge", "update", "merge", "compact")
DML_ROWS = 40  # rows each delete or update matches


class Lake(Workload):
    name = "lake_dml"
    kinds = ("merge", "delete", "update", "compact", "refresh", "read")
    batch_kind = "merge"
    group_s = 4.2

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.n_rows = max(2000, int(60_000 * scale))
        self.merge_rows = 50
        self.table = os.path.join(work, "lineitem_snap")
        self.mv = os.path.join(work, "rollup_mv")
        self.base_path = os.path.join(work, "base.parquet")
        self.rng = gen.rng_for(seed, 20)
        self.log: list[tuple] = []  # replayable commits: (kind, source path or predicate)
        self.read_results: list = []
        self.mv_at = 0  # log position of the last MV refresh
        self.docs: Corpus | None = None  # the document side, traced runs only

    def prepare(self):
        base = gen.lake_base(self.seed, self.n_rows)
        pq.write_table(base, self.base_path, compression="snappy")
        self.keys = {(int(a), int(b)) for a, b in zip(
            base.column("l_orderkey").to_numpy(), base.column("l_linenumber").to_numpy())}
        self.okeys = np.unique(base.column("l_orderkey").to_numpy())
        self.next_okey = int(self.okeys.max()) + 4
        self.n_src = 0

    def bootstrap(self):
        from aws_medallion_etl_spark import mv, snapshot as sn

        sn.snapshot_create(self.spark, self.spark.read.parquet(self.base_path),
                           self.table, ["l_orderkey"], row_tracking=True)
        mv.refresh_rollup(self.spark, self.table, self.mv, GROUP_COLS, SUMS)

    def _hot_okey(self) -> int:
        """Skewed key choice: 70% from the first 5% of the key range, so
        the same files are hit again and again."""
        hot = max(1, len(self.okeys) // 20)
        i = (self.rng.integers(hot) if self.rng.random() < 0.7
             else self.rng.integers(len(self.okeys)))
        return int(self.okeys[i])

    def _commit(self, kind: str):
        from aws_medallion_etl_spark import snapshot as sn

        spark, table = self.spark, self.table
        if kind == "merge":
            n_upd = self.merge_rows * 3 // 4
            keys = set()
            for _ in range(n_upd * 4):
                ok = self._hot_okey()
                matches = [k for k in ((ok, ln) for ln in range(1, 8)) if k in self.keys]
                if matches:
                    keys.add(matches[int(self.rng.integers(len(matches)))])
                if len(keys) >= n_upd:
                    break
            for _ in range(self.merge_rows - len(keys)):
                keys.add((self.next_okey, 1))
                self.next_okey += 4
            keys = sorted(keys)
            self.keys.update(keys)
            src = gen.lake_rows(self.rng, np.array([k[0] for k in keys]),
                                np.array([k[1] for k in keys]))
            path = os.path.join(self.work, f"merge_{self.n_src:05d}.parquet")
            self.n_src += 1
            pq.write_table(src, path)
            self.log.append(("merge", path))

            def fn():
                sn.merge_into(spark, table, spark.read.parquet(path),
                              gen.LAKE_KEYS, write_mode="mor")
            return fn, len(keys)
        if kind in ("delete", "update"):
            # a key interval holding exactly DML_ROWS live rows
            live = sorted(self.keys)
            start = int(np.searchsorted([k[0] for k in live], self._hot_okey()))
            start = min(start, len(live) - DML_ROWS)
            (a, b), (c, d) = live[start], live[start + DML_ROWS - 1]
            pred = (f"(l_orderkey > {a} OR (l_orderkey = {a} AND l_linenumber >= {b})) AND "
                    f"(l_orderkey < {c} OR (l_orderkey = {c} AND l_linenumber <= {d}))")
            self.log.append((kind, pred))
            if kind == "delete":
                self.keys -= set(live[start:start + DML_ROWS])
                return (lambda: sn.delete_where(spark, table, pred, mode="mor")), DML_ROWS
            return (lambda: sn.update_where(spark, table, pred,
                                            {"l_quantity": "l_quantity + 1"},
                                            mode="mor")), DML_ROWS

        def compact():
            sn.compact(spark, table, small_file_rows=10_000)
        return compact, 0

    def _group(self, kind: str):
        from pyspark.sql import functions as F

        from aws_medallion_etl_spark import mv, snapshot as sn

        fn, rows = self._commit(kind)
        spark = self.spark

        def refresh():
            mv.refresh_rollup(spark, self.table, self.mv, GROUP_COLS, SUMS)
            self.mv_at = marker

        def read():
            with self.tracer.span("snapshot.read"):
                rows = (sn.snapshot_read(spark, self.table)
                        .groupBy("l_returnflag")
                        .agg(F.count(F.lit(1)), F.sum("l_quantity"), F.sum("l_price_cents"))
                        .collect())
            self.read_results.append((marker, sorted(tuple(r) for r in rows)))

        marker = len(self.log)
        if kind == "merge":
            return [(kind, fn, rows), ("refresh", refresh, 0), ("read", read, 0)]
        return [(kind, fn, rows), ("read", read, 0)]

    def warm_up(self):
        """merge, refresh, read, then one delete, update and compact
        (the first timed refresh folds those three commits in)."""
        import time

        t = time.monotonic()
        group = self._group("merge")
        group += [(k, *self._commit(k)) for k in ("delete", "update", "compact")]
        self.untimed += time.monotonic() - t
        for k, fn, rows in group:
            self.run_op(k, fn, rows, timed=False)

    def groups(self):
        i = 0
        while True:
            yield self._group(COMMIT_CYCLE[i % len(COMMIT_CYCLE)])
            i += 1

    def install_wrappers(self, tracer):
        from aws_medallion_etl_spark import mv, snapshot as sn

        if self.docs:
            self.docs.install_wrappers(tracer)

        def merge_name():
            # the MV refresh nests its own merge; keep the two apart
            cur = tracer.current()
            return "mv.merge_into" if cur and cur.name == "mv.refresh_rollup" else "snapshot.merge_into"

        tracer.wrap(sn, "merge_into", merge_name)
        tracer.wrap(sn, "delete_where", "snapshot.delete_where")
        tracer.wrap(sn, "update_where", "snapshot.update_where")
        tracer.wrap(mv, "refresh_rollup", "mv.refresh_rollup")

        def before(args, kwargs):
            return parquet_files(args[1])

        def after(span, old, args, kwargs, out):
            span.extra["bytes"] = sum(os.path.getsize(f) for f in parquet_files(args[1]) - old)

        tracer.wrap(sn, "compact", "snapshot.compact", before, after)

    def before_trace(self):
        """The lakehouse's document side: a corpus that the traced run
        ingests into after the DML stream, so that the ingest and fuzzy
        layers are measured on this workload too. Untraced runs skip it."""
        self.docs = Corpus(os.path.join(self.work, "docs"), self.seed, self.scale / 2)
        self.docs.bind(self.ctx)
        self.docs.prepare()
        self.docs.bootstrap()
        self.docs.warm_up()

    def traced_extra(self):
        self.docs.phase = 1
        self.docs.run_phase(1)
        self.records += [r for r in self.docs.records if r[0] == "ingest"]

    def layer_metrics(self, prof):
        out = self.docs.layer_metrics(prof) if self.docs else {}
        for name in ("snapshot.merge_into", "snapshot.delete_where",
                     "snapshot.update_where", "snapshot.read", "mv.refresh_rollup"):
            out[f"{name}.s"] = prof.seconds(name)
            out[f"{name}.jobs"] = prof.jobs(name)
        out["snapshot.compact.s"] = prof.seconds("snapshot.compact")
        out["snapshot.compact.mb_rewritten"] = prof.extra("snapshot.compact", "bytes") / 1e6
        out["snapshot.dv_files"] = float(len(glob.glob(
            os.path.join(self.table, "_deletes", "**", "*.parquet"), recursive=True)))
        return out

    def verify(self):
        from aws_medallion_etl_spark import mv, snapshot as sn

        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.base_path}')")
        reads = iter(self.read_results)
        pending = next(reads, None)
        for i in range(len(self.log) + 1):
            while pending is not None and pending[0] == i:
                want = sorted(tuple(r) for r in con.execute(READ_SQL).fetchall())
                self.check(pending[1] == want, f"read after op {i}")
                pending = next(reads, None)
            if i == self.mv_at:
                want_mv = sorted(con.execute(
                    "SELECT l_returnflag, l_linestatus, l_shipyear, count(*), sum(l_quantity), "
                    "sum(l_price_cents) FROM t GROUP BY 1, 2, 3").fetchall())
            if i == len(self.log):
                break
            kind, arg = self.log[i]
            if kind == "merge":
                con.execute(
                    f"DELETE FROM t WHERE (l_orderkey, l_linenumber) IN "
                    f"(SELECT (l_orderkey, l_linenumber) FROM read_parquet('{arg}'))")
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{arg}')")
            elif kind == "delete":
                con.execute(f"DELETE FROM t WHERE {arg}")
            else:
                con.execute(f"UPDATE t SET l_quantity = l_quantity + 1 WHERE {arg}")
        cols = ", ".join(pq.read_schema(self.base_path).names)
        want = con.execute(f"SELECT {cols} FROM t ORDER BY l_orderkey, l_linenumber").arrow()
        got_df = sn.snapshot_read(self.spark, self.table).toPandas()
        got = pa.Table.from_pandas(got_df, preserve_index=False).select(want.column_names)
        got = got.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")])
        self.check(got.cast(want.schema).equals(want), "final table equals replay")
        self.live_once = once_bytes(want, os.path.join(self.work, "live_once.parquet"))
        mv_rows = sorted(
            (r["l_returnflag"], r["l_linestatus"], r["l_shipyear"], r["n_rows"], r["qty"], r["cents"])
            for r in mv.read_rollup(self.spark, self.mv).collect())
        self.check(mv_rows == [tuple(r) for r in want_mv], "MV equals replay at its last refresh")
        self.check(bool(sn.snapshot_fsck(self.table)["clean"]), "snapshot_fsck clean")
        if self.docs:
            self.docs.verify()
            self.checks += self.docs.checks
            self.checks_failed += self.docs.checks_failed
            self.ops_attempted += self.docs.ops_attempted
            self.ops_failed += self.docs.ops_failed

    def corrupt(self):
        """Change rows the operation log does not explain."""
        from aws_medallion_etl_spark import snapshot as sn

        okey = min(self.keys)[0]  # a live row
        sn.update_where(self.spark, self.table, f"l_orderkey = {okey}",
                        {"l_quantity": "l_quantity + 1000"})

    def space_amp(self):
        return du(self.table) / self.live_once


# ---------------------------------------------------------------------------
# corpus_ingest
# ---------------------------------------------------------------------------

class Corpus(Workload):
    name = "corpus_ingest"
    kinds = ("ingest", "read")
    batch_kind = "ingest"
    group_s = 5.5

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.n_docs = max(200, int(1000 * scale))
        self.batch_size = max(10, int(40 * scale))
        self.corpus_p = os.path.join(work, "corpus")
        self.index_p = os.path.join(work, "index")
        self.reports: list[tuple[int, dict, int]] = []  # batch, report, phase
        self.reads: list[tuple[int, set]] = []

    def prepare(self):
        os.makedirs(self.work, exist_ok=True)
        self.data = gen.corpus(self.seed, self.n_docs, self.batch_size, twin_share=0.2)
        self.init_path = os.path.join(self.work, "docs_init.parquet")
        pq.write_table(gen.docs_table(self.data["init"]), self.init_path)
        self.batch_paths = []
        for i, rows in enumerate(self.data["batches"]):
            p = os.path.join(self.work, f"docs_b{i:04d}.parquet")
            pq.write_table(gen.docs_table(rows), p)
            self.batch_paths.append(p)

    def bootstrap(self):
        from aws_medallion_etl_spark import ingest

        ingest.init_corpus(self.spark, self.spark.read.parquet(self.init_path),
                           "doc_id", "text", self.corpus_p, self.index_p)

    def _group(self, i: int):
        from pyspark.sql import functions as F

        from aws_medallion_etl_spark import ingest, io

        spark, path = self.spark, self.batch_paths[i]
        ids = [r[0] for r in self.data["batches"][i]]

        def batch():
            r = ingest.ingest_batch(spark, spark.read.parquet(path), "doc_id", "text",
                                    self.corpus_p, self.index_p, policy="filter",
                                    max_shingle_df=None)
            self.reports.append((i, r, self.phase))
            return r

        def read():
            rows = (io.read_parquet(spark, self.corpus_p)
                    .where(F.col("doc_id").isin(ids)).select("doc_id").collect())
            self.reads.append((i, {r[0] for r in rows}))

        return [("ingest", batch, len(ids)), *[("read", read, 0)] * READS]

    def warm_up(self):
        for kind, fn, rows in self._group(0):
            self.run_op(kind, fn, rows, timed=False)

    def groups(self):
        for i in range(1, len(self.batch_paths)):
            yield self._group(i)

    def install_wrappers(self, tracer):
        from aws_medallion_etl_spark import ingest
        from aws_medallion_etl_spark.operators import fuzzy

        tracer.wrap(ingest, "ingest_batch", "ingest.ingest_batch")
        tracer.wrap(fuzzy, "append_to_minhash_index", "fuzzy.append_to_minhash_index")

    def layer_metrics(self, prof):
        batches = [(i, r) for i, r, phase in self.reports if phase == 1]
        n = sum(r["n_batch"] for _, r in batches)
        planted = sum(1 for i, _ in batches for row in self.data["batches"][i]
                      if row[2] in (gen.TWIN_EXACT, gen.TWIN_NEAR))
        return {
            "ingest.ingest_batch.s": prof.seconds("ingest.ingest_batch"),
            "ingest.ingest_batch.jobs": prof.jobs("ingest.ingest_batch"),
            "fuzzy.append_to_minhash_index.s": prof.seconds("fuzzy.append_to_minhash_index"),
            "ingest.drop_ratio": sum(r["n_dropped"] for _, r in batches) / n if n else 0.0,
            "ingest.planted_ratio": planted / n if n else 0.0,
        }

    def _corpus_ids(self) -> list[int]:
        files = sorted(glob.glob(os.path.join(self.corpus_p, "*.parquet")))
        return duckdb.connect().execute(
            f"SELECT doc_id FROM read_parquet({files!r})").fetchnumpy()["doc_id"].tolist()

    def verify(self):
        ids = self._corpus_ids()
        have = set(ids)
        self.check(len(ids) == len(have), "corpus doc ids unique")
        n_kept = sum(r["n_kept"] for _, r, _ in self.reports)
        self.check(len(ids) == len(self.data["init"]) + n_kept,
                   f"corpus rows {len(ids)} == init + sum(n_kept)")
        for i, r, _ in self.reports:
            rows = self.data["batches"][i]
            self.check(r["n_kept"] + r["n_dropped"] == r["n_batch"] == len(rows),
                       f"batch {i} report adds up")
            for doc_id, _, kind, _ in rows:
                if kind == gen.TWIN_EXACT:
                    self.check(doc_id not in have, f"exact twin {doc_id} dropped")
                elif kind in (None, gen.TWIN_FAR):
                    self.check(doc_id in have, f"doc {doc_id} without a close twin kept")
            want = {row[0] for row in rows} & have
            for ri, got in self.reads:
                if ri == i:
                    self.check(got == want, f"batch {i} read")

    def corrupt(self):
        """Append a copy of a planted exact twin to the corpus."""
        for rows in self.data["batches"]:
            for row in rows:
                if row[2] == gen.TWIN_EXACT:
                    pq.write_table(gen.docs_table([row]),
                                   os.path.join(self.corpus_p, "part-corrupt.parquet"))
                    return

    def space_amp(self):
        have = set(self._corpus_ids())
        texts = dict(self.data["init"])
        for rows in self.data["batches"]:
            texts.update((r[0], r[1]) for r in rows if r[0] in have)
        live = gen.docs_table(sorted(texts.items()))
        once = once_bytes(live, os.path.join(self.work, "live_once.parquet"))
        return (du(self.corpus_p) + du(self.index_p)) / once


def make(name: str, work: str, seed: int, scale: float) -> Workload:
    cls = {w.name: w for w in (Medallion, Lake, Corpus)}[name]
    return cls(work, seed, scale)
