"""The three workloads: each yields the ops of one pass (or cycle).

An op is a named callable plus its kind. ``run`` executes it and returns a
result; ``check`` verifies that result after the pass, in op order, outside
every timed region. Query workloads run each registered query to the noop
sink; in the verifying pass they collect the result instead, and the check
hash-matches it against the DuckDB oracle. The lakehouse workload runs one
medallion pipeline run and a chain of manifest commits per cycle, each
commit followed by one read (aggregate, range and point reads in rotation)
that is checked against an independent pandas model of the table.
"""

from __future__ import annotations

import glob
import json
import os
import urllib.parse
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import gen
import oracle

STAR_OPS = "q01 q03 q04 q05 q08 q10 q18 q19 q22 q26 q31 q36 q79 q81".split()
# Shingling and GEMM kernels (Python/Arrow boundary), the band-key broadcast,
# a cosine top-k and a JVM-only text aggregate. d25 s02 t17 t22 would add
# ~5 s a pass and ~6 s of warm-up, which the benchmark's time budget does
# not have. An odd number of ops of distinct sizes puts op_p50_s on one op
# (d06) rather than between two.
CURATION_OPS = "d03 d04 d06 s01 t05".split()
STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
CORPUS_TABLES = ["documents", "embeddings"]


@dataclass
class Op:
    name: str
    kind: str  # "query", "write", "read" or "pipeline"
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    prepare: Callable[[], None] | None = None  # runs before the timer starts


def corpus_size(sf: float) -> tuple[int, int]:
    """Documents and embeddings at ``sf``, in the fixture's proportions:
    500 of each up to sf0.01, then 50k documents and 20k vectors per unit."""
    return max(500, int(50_000 * sf)), max(500, int(20_000 * sf))


def lake_rows(sf: float) -> int:
    return max(1000, int(1_000_000 * sf))


def _specs(prefixes: list[str]) -> list:
    from european_public_data_pipeline_spark import plans

    by_prefix = {n.split("_")[0]: s for n, s in plans.all_specs().items()}
    return [by_prefix[p] for p in prefixes]


def prepare_inputs(workload: str, seed: int, sf: float, root: str, cycles: int):
    """Generate (or reuse) ``workload``'s inputs for ``seed``; for a query
    workload also each op's expected result hash from its DuckDB oracle.
    Returns (input directory, expected hashes)."""
    if workload == "lakehouse_writes":
        return gen.ensure(root, "lake", seed, rows=lake_rows(sf), cycles=cycles), {}
    if workload == "star_analytics":
        d, prefixes, tables = gen.ensure(root, "star", seed, scale=sf), STAR_OPS, STAR_TABLES
    else:
        docs, vecs = corpus_size(sf)
        d = gen.ensure(root, "corpus", seed, docs=docs, vecs=vecs)
        prefixes, tables = CURATION_OPS, CORPUS_TABLES
    from european_public_data_pipeline_spark import plans

    oracles = plans.oracle_sql_map()
    return d, oracle.expected_hashes(d, tables, {s.name: oracles[s.name] for s in _specs(prefixes)})


class QueryWorkload:
    """Registered queries over generated parquet tables."""

    # The verifying pass collects; measured passes write to the noop sink,
    # whose plans need a warm-up of their own: without it the first measured
    # pass of llm_curation read up to 40% slower than the second.
    unverified_warmups = 1
    # Even after it the JIT still trims a pass's CPU time by ~15% from the
    # first measured pass to the second; a run measures both however long
    # a pass takes, so a slow host does not leave it with the first alone.
    min_passes = 2

    def __init__(self, name: str, prefixes: list[str], input_dir: str, expected: dict[str, str]):
        self.name = name
        self.input_dir = input_dir
        self.prefixes = prefixes
        self.expected = expected

    def start(self, ctx) -> None:
        self.ctx = ctx
        self.specs = _specs(self.prefixes)

    def more(self) -> bool:
        return True

    def ops(self, verify: bool) -> list[Op]:
        return [self._op(spec, verify) for spec in self.specs]

    def _op(self, spec, verify: bool) -> Op:
        ctx = self.ctx

        def run():
            tr = ctx.tracer
            with tr.span("build"):
                jobs0 = len(ctx.store.job_ids(ctx.group)) if tr.enabled else 0
                df = spec.builder(ctx.spark, self.input_dir)
                if tr.enabled:
                    ctx.add("plans.build_jobs", len(ctx.store.job_ids(ctx.group)) - jobs0)
            if verify:
                with tr.span("execute"):
                    return df.columns, [tuple(r) for r in df.collect()]
            if not tr.enabled:
                df.write.format("noop").mode("overwrite").save()
                return None
            qe = df._jdf.queryExecution()
            with tr.span("optimize"):
                plan = qe.executedPlan()
            with tr.span("execute"):
                qe.toRdd().count()
            with tr.span("inspect"):
                ctx.add_plan(plan)
            return None

        def check(result) -> bool:
            return result is None or oracle.result_hash(*result) == self.expected[spec.name]

        return Op(spec.name, "query", run, check)


class LakehouseWorkload:
    """Medallion runs plus manifest-table commits with reads in between."""

    TABLE_FILES = 4
    # A cycle runs the same ops whether verifying or not.
    unverified_warmups = 0
    min_passes = 1
    # Every cycle ends with a compact, so each starts from the same table
    # layout and no cycle pays for the sidecars of the ones before it. In a
    # traced run merge_cow runs on cycles 1, 3, 5, ...: in the warm-up
    # cycle, and in one untraced and one traced cycle of each U T T U block.
    # An untraced run leaves it out (~5 s a cycle), so that every cycle it
    # measures is the same list of ops and the run stays inside the
    # benchmark's time budget.
    MERGE_EVERY = 2
    READ_SPAN = 500  # keys per range read
    KEY = "o_orderkey"

    def __init__(self, input_dir: str, seed: int, base_rows: int, cycles: int, merge: bool):
        self.name = "lakehouse_writes"
        self.merge = merge
        self.input_dir = input_dir
        self.seed = seed
        self.base_rows = base_rows
        self.max_cycles = cycles
        with open(os.path.join(input_dir, "hicp.json")) as f:
            self.payloads = json.load(f)
        self.series = [
            {"geo": g, "coicop": c, "unit": "I15"} for g in gen.HICP_GEOS for c in gen.HICP_COICOPS
        ]
        # The gold table's row count and cent sum, from the payloads.
        self.gold_rows = len(self.series) * gen.HICP_MONTHS
        self.gold_cents = int(sum(
            int(round(v * 100)) for p in self.payloads.values() for v in p["value"]
        ))
        self.cycle = 0
        self.bytes_in = 0
        self.bytes_written = 0
        self.files_written = 0
        self._seen: dict[str, tuple[int, float]] = {}
        self.pruned = [0, 0]
        # (data files, delete sidecars) of the head version as each compact
        # starts: the most the table accumulates within a cycle.
        self.live_before_compact: list[tuple[int, int]] = []

    # -- inputs -----------------------------------------------------------------

    def _batch_path(self, name: str) -> str:
        return os.path.join(self.input_dir, f"{name}.parquet")

    def _batch_pd(self, name: str) -> pd.DataFrame:
        return pd.read_parquet(self._batch_path(name))

    def _batch_bytes(self, name: str) -> int:
        return sum(os.path.getsize(p) for p in glob.glob(f"{self._batch_path(name)}/*.parquet"))

    def _transport(self, url: str, timeout: int) -> tuple[int, bytes]:
        q = dict(urllib.parse.parse_qsl(urllib.parse.urlparse(url).query))
        payload = self.payloads.get(f"{q.get('geo')}/{q.get('coicop')}")
        if payload is None:
            return 404, b"unknown series"
        return 200, json.dumps(payload).encode()

    # -- table bookkeeping (outside timed regions) ------------------------------

    def _walk_written(self) -> None:
        """Count bytes and files that appeared or changed under the table
        and the medallion root since the previous walk."""
        for root in (self.table, self.medallion):
            for d, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(d, f)
                    try:
                        st = os.stat(p)
                    except FileNotFoundError:
                        continue
                    key = (st.st_size, st.st_mtime)
                    if self._seen.get(p) != key:
                        self._seen[p] = key
                        self.bytes_written += st.st_size
                        self.files_written += 1
                        if p.startswith(self.table):
                            self.table_bytes_written += st.st_size

    def _head_manifest(self) -> dict:
        with open(os.path.join(self.table, "LATEST.json")) as f:
            v = int(json.load(f)["version"])
        with open(os.path.join(self.table, "manifest", f"{v:08d}.json")) as f:
            return json.load(f)

    def table_dir_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.table) for f in fs
        )

    # -- model ------------------------------------------------------------------

    def _model_apply(self, kind: str, frame: pd.DataFrame | None = None, month: int = 0) -> None:
        m = self.model
        if kind == "append":
            self.model = pd.concat([m, frame.set_index(self.KEY)])
        elif kind == "upsert":
            f = frame.set_index(self.KEY)
            self.model = pd.concat([m.drop(index=f.index, errors="ignore"), f])
        elif kind == "delete":
            self.model = m.drop(index=frame[self.KEY].to_numpy())
        elif kind == "merge":
            lo, hi = self._month_bounds(month)
            hit = (m["o_orderdate"] >= lo) & (m["o_orderdate"] < hi)
            m = m.copy()
            m.loc[hit, "o_totalprice"] = m.loc[hit, "o_totalprice"] + 1.0
            m.loc[hit, "o_orderpriority"] = "1-URGENT"
            self.model = m

    @staticmethod
    def _month_bounds(month: int) -> tuple[pd.Timestamp, pd.Timestamp]:
        lo = pd.Timestamp(1995 + month // 12, month % 12 + 1, 1)
        return lo, lo + pd.DateOffset(months=1)

    @staticmethod
    def _cents(prices) -> int:
        return int(np.round(np.asarray(prices, dtype=np.float64) * 100).astype(np.int64).sum())

    # -- lifecycle --------------------------------------------------------------

    def start(self, ctx) -> None:
        """Create the manifest table from the base batch (part of set-up)."""
        from european_public_data_pipeline_spark.pipeline import manifest

        self.ctx = ctx
        self.table = os.path.join(ctx.work, "lake", "orders")
        self.medallion = os.path.join(ctx.work, "lake", "medallion")
        self.table_bytes_written = 0
        self.model = self._batch_pd("base").set_index(self.KEY)
        manifest.publish_version(
            ctx.spark.read.parquet(self._batch_path("base")), self.table, stats_cols=(self.KEY,)
        )
        self._walk_written()
        self.bytes_written = self.files_written = self.table_bytes_written = 0

    def more(self) -> bool:
        """Whether generated batches remain for another cycle."""
        return self.cycle < self.max_cycles

    def ops(self, verify: bool) -> list[Op]:
        """One cycle. Its checks run after it, in op order, so each check
        sees the model as of its own op."""
        from european_public_data_pipeline_spark.pipeline import cow_merge, manifest, mor_delete
        from european_public_data_pipeline_spark.pipeline.run_hicp import run_pipeline

        spark, c = self.ctx.spark, self.cycle
        self.cycle += 1
        rng = np.random.default_rng([self.seed, self.cycle])
        # Read keys are drawn now, from keys no commit of this cycle removes.
        deleted = self._batch_pd(f"delete-{c}")[self.KEY].to_numpy()
        keys = np.setdiff1d(self.model.index.to_numpy(), deleted)
        key = [self.KEY]
        ops: list[Op] = []

        def medallion():
            res = run_pipeline(
                spark, self.medallion, gen.HICP_DATASET, self.series, "perfbench_gold",
                transport=self._transport, gold_location=os.path.join(self.medallion, "gold"),
            )
            return res.gold_rows, res.silver_rows

        def check_medallion(res) -> bool:
            from pyspark.sql import functions as F

            got = spark.table("perfbench_gold").agg(
                F.count("*"), F.sum(F.round(F.col("value") * 100).cast("bigint"))
            ).first()
            return res == (self.gold_rows, self.gold_rows) and tuple(got) == (
                self.gold_rows, self.gold_cents
            )

        ops.append(Op("medallion", "pipeline", medallion, check_medallion))

        def write_op(name: str, fn: Callable[[], dict], model_kind: str, frame=None, month=0,
                     in_bytes: int | Callable[[], int] = 0) -> None:
            state = {}

            def prepare():
                head = self._head_manifest()
                state["files"] = len(head["files"])
                if name == "compact":
                    self.live_before_compact.append(
                        (len(head["files"]), len(head.get("delete_files") or []))
                    )

            def check(out) -> bool:
                if isinstance(out, dict) and "files_pruned" in out:
                    self.pruned[0] += int(out["files_pruned"])
                    self.pruned[1] += state["files"]
                self.bytes_in += in_bytes() if callable(in_bytes) else in_bytes
                self._model_apply(model_kind, frame, month)
                self._walk_written()
                return True

            ops.append(Op(name, "write", fn, check, prepare))
            writes = sum(op.kind == "write" for op in ops)
            ops.append(self._read((writes - 1) % 3, int(keys[rng.integers(0, len(keys))])))

        for op_name, kind, fn in (
            ("append", "append",
             lambda b: manifest.append_version(b, self.table, stats_cols=(self.KEY,))),
            ("upsert_mor", "upsert",
             lambda b: mor_delete.upsert_rows_mor(spark, self.table, b, key)),
            ("delete_mor", "delete",
             lambda b: mor_delete.delete_rows_mor(spark, self.table, b, key)),
        ):
            batch = f"{kind}-{c}"
            write_op(
                op_name,
                lambda fn=fn, batch=batch: fn(spark.read.parquet(self._batch_path(batch))),
                kind, self._batch_pd(batch), in_bytes=self._batch_bytes(batch),
            )
        month = int(self._batch_pd(f"merge-{c}")["month"].iloc[0])

        def merge():
            from pyspark.sql import functions as F

            lo, hi = self._month_bounds(month)
            cur = manifest.read_version(spark, self.table)
            updates = cur.where(
                (F.col("o_orderdate") >= F.lit(lo.to_pydatetime()))
                & (F.col("o_orderdate") < F.lit(hi.to_pydatetime()))
            ).select(
                self.KEY, "o_custkey", "o_orderstatus",
                (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
                "o_orderdate", F.lit("1-URGENT").alias("o_orderpriority"),
            )
            return cow_merge.merge_into_manifest(spark, self.table, updates, key)

        def merge_bytes() -> int:
            """The update batch's size: its rows at the base batch's bytes per row."""
            lo, hi = self._month_bounds(month)
            dates = self.model["o_orderdate"]
            matched = int(((dates >= lo) & (dates < hi)).sum())
            return int(matched * self._batch_bytes("base") / max(1, self.base_rows))

        if self.merge and self.cycle % self.MERGE_EVERY == 1:
            write_op("merge_cow", merge, "merge", month=month, in_bytes=merge_bytes)
        write_op("compact", lambda: manifest.compact(
            spark, self.table, target_files=self.TABLE_FILES
        ), "compact")
        return ops

    def _read(self, kind: int, k: int) -> Op:
        """Read ``kind`` (0 aggregate, 1 range from key ``k``, 2 point read
        of ``k``). The head manifest is taken before the timer starts, for
        the pruning figures."""
        from pyspark.sql import functions as F

        from european_public_data_pipeline_spark.pipeline import manifest

        spark = self.ctx.spark
        state: dict = {}

        def prepare():
            state["manifest"] = self._head_manifest()

        def collect(df) -> list:
            rows = df.collect()
            if self.ctx.tracer.enabled:
                self.ctx.add_plan(df._jdf.queryExecution().executedPlan())
            return rows

        def prune(lo: int, hi: int) -> None:
            keep, total = manifest.prune_files(state["manifest"], self.KEY, lo, hi)
            self.pruned[0] += total - len(keep)
            self.pruned[1] += total

        if kind == 0:
            def run():
                return tuple(collect(manifest.read_version(spark, self.table).agg(
                    F.count("*"), F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                ))[0])

            def check(res) -> bool:
                return res == (len(self.model), self._cents(self.model["o_totalprice"]))

            return Op("read_version_agg", "read", run, check, prepare)

        if kind == 1:
            lo, hi = k, k + self.READ_SPAN

            def run():
                rows = collect(manifest.read_where(spark, self.table, self.KEY, lo, hi))
                return len(rows), self._cents([r["o_totalprice"] for r in rows])

            def check(res) -> bool:
                prune(lo, hi)
                sel = self.model[(self.model.index >= lo) & (self.model.index <= hi)]
                return res == (len(sel), self._cents(sel["o_totalprice"]))

            return Op("read_where_range", "read", run, check, prepare)

        def run():
            return [r.asDict() for r in collect(manifest.read_where(spark, self.table, self.KEY, k, k))]

        def check(res) -> bool:
            prune(k, k)
            if k not in self.model.index:
                return res == []
            if len(res) != 1:
                return False
            want, got = self.model.loc[k], res[0]
            return (
                got["o_totalprice"] == want["o_totalprice"]
                and got["o_custkey"] == want["o_custkey"]
                and got["o_orderpriority"] == want["o_orderpriority"]
                and pd.Timestamp(got["o_orderdate"]) == want["o_orderdate"]
            )

        return Op("read_point", "read", run, check, prepare)

    def final_check(self) -> bool:
        """The whole table equals the model of every applied batch."""
        from european_public_data_pipeline_spark.pipeline import manifest

        got = manifest.read_version(self.ctx.spark, self.table).toPandas()
        want = self.model.reset_index()
        cols = sorted(want.columns)
        got = got[cols].sort_values(self.KEY).reset_index(drop=True)
        want = want[cols].sort_values(self.KEY).reset_index(drop=True)
        got["o_orderdate"] = pd.to_datetime(got["o_orderdate"]).astype("datetime64[us]")
        want["o_orderdate"] = pd.to_datetime(want["o_orderdate"]).astype("datetime64[us]")
        return len(got) == len(want) and got.equals(want.astype(got.dtypes.to_dict()))

    def compact_bytes(self) -> int:
        """Bytes of one fresh compact write of the live rows."""
        from european_public_data_pipeline_spark.pipeline import manifest

        out = os.path.join(self.ctx.work, "lake", "fresh")
        manifest.read_version(self.ctx.spark, self.table).coalesce(self.TABLE_FILES).write.mode(
            "overwrite"
        ).parquet(out)
        return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out) for f in fs)
