"""The workloads: inputs generated from the seed, the operations the closed
loop runs, and the correctness checks.

Inputs are generated in the benchmark process with the package's own per-doc
generator (`datagen._gen_batch`, the body of `datagen.tokenized_sequences`'
mapInPandas, so a doc's content is identical to that table's row for the
same seed) and written as parquet across 2 x nproc files.  The program only
ever sees those files.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ts2g2_spark import datagen
from ts2g2_spark.plans.points import BASE_EPOCH

POINT_SCHEMA = pa.schema([("doc_id", pa.string()), ("source", pa.string()),
                          ("ts", pa.timestamp("us", tz="UTC")),
                          ("value", pa.float64())])


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int,
                  schema: pa.Schema | None = None) -> None:
    """Write rows round-robin into `n_files` parquet files under `path`."""
    os.makedirs(path, exist_ok=True)
    for i in range(n_files):
        part = pdf.iloc[i::n_files].reset_index(drop=True)
        t = pa.Table.from_pandas(part, preserve_index=False)
        if schema is not None:
            t = t.cast(schema)
        pq.write_table(t, os.path.join(path, f"part-{i:03d}.parquet"))


def du_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def force(df) -> None:
    """Materialize every column of `df` through Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def _docs(n: int, seed: int, gap_p: float) -> pd.DataFrame:
    docs = datagen._gen_batch(np.arange(n), seed, gap_p)
    docs["n_tok"] = docs["n_tok"].astype(np.int32)
    return docs


class Workload:
    """One workload.  `cycle()` lists the (op type, callable) pairs the
    closed loop runs in order; each callable returns a dict of facts about
    the op, optionally with a `post` callable the loop runs right after it,
    outside the timed region (checks, clean-up)."""

    name = ""
    primary = ""
    secondary = ""
    MIN_CYCLES = 2
    traced = False
    warming = False

    def __init__(self, root: str, seed: int, nproc: int):
        self.root = root
        self.seed = seed
        self.nproc = nproc
        self.rng = np.random.default_rng(np.random.SeedSequence([seed, 99]))
        self.checks: list[tuple[str, bool, str]] = []
        self.extra: dict[str, float] = {}

    @staticmethod
    def span(name: str, layer: str):
        """Replaced by the runner with its tracer's span in a traced run."""
        return nullcontext()

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def path(self, *p: str) -> str:
        return os.path.join(self.root, *p)

    def prepare(self, spark) -> None:
        """Input preparation that needs Spark, timed apart from set-up."""

    def warm(self) -> None:
        """The untimed warm pass: one full cycle of the op mix on the full
        input (post hooks run; checks are skipped while warming)."""
        self.warming = True
        try:
            for _, fn in self.cycle():
                post = (fn() or {}).get("post")
                if post is not None:
                    post()
        finally:
            self.warming = False

    def final_checks(self) -> None:
        """Checks run once after the loop (untimed)."""

    def trace_extras(self) -> dict:
        """Per-layer measurements made once after a traced loop."""
        return {}

    def points_processed(self, run) -> float:
        return max(1, sum(o["facts"].get("points", 0) for o in run.ops
                          if o["ok"]))

    def versions(self, spark) -> dict:
        import duckdb
        import pyspark

        return {"java": spark._jvm.System.getProperty("java.version"),
                "pyspark": pyspark.__version__, "pyarrow": pa.__version__,
                "numpy": np.__version__, "pandas": pd.__version__,
                "duckdb": duckdb.__version__}


# --------------------------------------------------------- pipeline_batch
class PipelineBatch(Workload):
    """The shipped rollup job (RollupPipeline.run into a fresh catalog,
    then retention) and the four ts2g2 graph edge sets (HVG, NVG, OPG w=3
    tau=1, QG Q=4, each forced through the noop sink) over series cut from
    a seeded subset of the same docs."""

    name = "pipeline_batch"
    primary = "job"
    secondary = "graphs"
    N_DOCS = 2000
    GAP_P = 0.02
    SALT_BUCKETS = 256  # jobs/rollup_job.py's default
    N_SERIES = 800
    CAP = 200
    SAMPLE = 20
    TABLES = ("rollup_1m", "rollup_1h", "rollup_1d", "chunks")

    def generate(self) -> dict:
        from ts2g2_spark.plans.rollup import DEFAULT_RETENTION, TIER_SECONDS

        docs = _docs(self.N_DOCS, self.seed, self.GAP_P)
        write_parquet(docs, self.path("input"), 2 * self.nproc)
        self.points = int(docs["n_tok"].sum())
        pick = self.rng.choice(len(docs), self.SAMPLE, replace=False)
        self.sample = {docs.doc_id[i]: np.asarray(docs.tokens[i], np.int32)
                       for i in pick}
        # retention "now": the 1m horizon drops a seeded share of the 1m
        # buckets; the expected surviving cnt per tier follows from the
        # generated positions alone
        ts = BASE_EPOCH + np.concatenate(
            [np.asarray(p, np.int64) for p in docs.positions])
        starts = np.sort(np.concatenate([
            np.unique(np.asarray(p, np.int64) // 60)
            for p in docs.positions]))
        self.drop_share = float(self.rng.uniform(0.3, 0.6))
        cut = BASE_EPOCH + 60 * int(
            starts[int(self.drop_share * (len(starts) - 1))])
        self.now = cut + DEFAULT_RETENTION["1m"]
        self.kept = {}
        for tier, sec in TIER_SECONDS.items():
            lo = self.now - DEFAULT_RETENTION[tier]
            self.kept[tier] = int((ts // sec * sec >= lo).sum())

        series = docs.iloc[:self.N_SERIES][["doc_id", "tokens"]]
        write_parquet(series, self.path("series"), 2 * self.nproc)
        self.series_points = int(np.minimum(
            docs["n_tok"].to_numpy()[:self.N_SERIES], self.CAP).sum())
        spick = self.rng.choice(self.N_SERIES, self.SAMPLE, replace=False)
        self.series_sample = {
            docs.doc_id[i]: np.asarray(docs.tokens[i][:self.CAP],
                                       np.float64) for i in spick}
        return {"docs": len(docs), "points": self.points,
                "retention_drop_share": self.drop_share,
                "series": self.N_SERIES, "series_points": self.series_points,
                "series_cap": self.CAP}

    def load(self, spark) -> None:
        from ts2g2_spark.operators import graphs

        self.spark = spark
        self.input = spark.read.parquet(self.path("input"))
        self.series = graphs.segment(graphs.series_from_tokens(
            spark.read.parquet(self.path("series"))), 0, self.CAP)

    def spread_frames(self):
        return {"input": self.input, "series": self.series}

    def cycle(self):
        return [("job", self._job), ("graphs", self._graphs)]

    def _pipe(self):
        from ts2g2_spark.plans.pipeline import RollupPipeline

        self.n_jobs = getattr(self, "n_jobs", 0) + 1
        cat = self.path("catalogs", f"c{self.n_jobs}")
        return RollupPipeline(self.spark, cat,
                              salt_buckets=self.SALT_BUCKETS,
                              positions_col="positions"), cat

    def _job(self) -> dict:
        pipe, cat = self._pipe()
        t0 = time.perf_counter()
        with self.span("pipeline.run", "plans.pipeline"):
            pipe.run(self.input, input_desc=f"input-{self.seed}")
        t1 = time.perf_counter()
        first = not self.warming and not self.checks
        if first:  # bytes on disk of the committed tables (a few ms)
            self.extra["stored_bytes_per_point"] = sum(
                du_bytes(os.path.join(cat, t)) for t in self.TABLES
            ) / self.points
            self.extra["chunks.bytes_per_point"] = du_bytes(
                os.path.join(cat, "chunks")) / self.points
        t2 = time.perf_counter()
        with self.span("pipeline.retention", "plans.pipeline"):
            pipe.retention(self.now)
        t3 = time.perf_counter()

        def post():
            if first:
                self._check_catalog(pipe)
                if self.traced:
                    self._resume(cat)
            shutil.rmtree(cat, ignore_errors=True)

        return {"points": self.points, "run_s": t1 - t0,
                "retention_s": t3 - t2, "untimed_s": t2 - t1,
                "stages": {st["stage"]: st["wall_ms"] / 1e3
                           for st in pipe.stage_log if not st["skipped"]},
                "post": post}

    def _builds(self, frame):
        from ts2g2_spark.operators import graphs

        return {
            "hvg": lambda: graphs.visibility_edges(frame, kind="horizontal"),
            "nvg": lambda: graphs.visibility_edges(frame, kind="natural"),
            "opg": lambda: graphs.opg_edges(frame, 3, 1),
            "qg": lambda: graphs.qg_edges(frame, 4, 1),
        }

    def _graphs(self) -> dict:
        for k, build in self._builds(self.series).items():
            with self.span(f"graphs.{k}", "operators.graphs"):
                force(build())
        return {"points": self.series_points}

    # ------------------------------------------------------------- checks
    def _check_catalog(self, pipe) -> None:
        """On the first timed job's catalog, after its retention."""
        from pyspark.sql import functions as F

        from ts2g2_spark.plans.chunks import decompress_chunks

        sums, rows = {}, {}
        for tier in ("1m", "1h", "1d"):
            r = pipe.cat.read(f"rollup_{tier}").agg(
                F.sum("cnt"), F.count(F.lit(1))).collect()[0]
            sums[tier], rows[tier] = int(r[0] or 0), int(r[1])
        self.check("pipeline.cnt_sums_equal_n_tok",
                   sums["1h"] == sums["1d"] == self.points,
                   f"1h/1d cnt sums {sums['1h']}/{sums['1d']} vs n_tok "
                   f"{self.points}")
        self.check("pipeline.retention_keeps_expected_cnt",
                   sums == self.kept and 0 < sums["1m"] < self.points,
                   f"cnt sums {sums} vs expected {self.kept}")
        keys = list(self.sample)
        got = {r.doc_id: np.asarray(r.tokens, np.int32) for r in
               decompress_chunks(pipe.cat.read("chunks")
                                 .where(F.col("doc_id").isin(keys)))
               .collect()}
        bad = [k for k in keys if k not in got
               or not np.array_equal(got[k], self.sample[k])]
        self.check("pipeline.chunks_roundtrip_token_arrays", not bad,
                   f"{len(bad)} of {len(keys)} sampled docs differ")
        if self.traced:
            lin = self.spark.read.parquet(pipe.cat.table_path("lineage"))
            self.extra["lineage.rows"] = lin.count()
            for tier, n in lin.where(F.col("stage").startswith("rollup_")) \
                    .groupBy("stage").agg(F.sum("rows")).collect():
                self.extra[f"rollup.rows.{tier[len('rollup_'):]}"] = int(n)

    def _resume(self, cat: str) -> None:
        """Re-run on the committed catalog: every stage is skipped."""
        from ts2g2_spark.plans.pipeline import RollupPipeline

        pipe = RollupPipeline(self.spark, cat,
                              salt_buckets=self.SALT_BUCKETS,
                              positions_col="positions")
        t = time.perf_counter()
        pipe.run(self.input, input_desc=f"input-{self.seed}")
        self.extra["pipeline.resume_s"] = time.perf_counter() - t
        self.check("pipeline.resume_skips_committed_stages",
                   all(st["skipped"] for st in pipe.stage_log),
                   str(pipe.stage_log))

    def final_checks(self) -> None:
        """Edges of the sampled series equal the gate's DuckDB oracles."""
        import duckdb

        from pyspark.sql import functions as F

        entry = _entry_module()
        keys = sorted(self.series_sample)
        uid = {k: i for i, k in enumerate(keys)}
        b = self._builds(self.series.where(F.col("series_key").isin(keys)))
        edges = {k: build().collect() for k, build in b.items()}
        rows = [(uid[k], pd.Timestamp(BASE_EPOCH + p, unit="s"), p, v)
                for k in keys for p, v in enumerate(self.series_sample[k])]
        con = duckdb.connect()
        try:
            con.register("events", pd.DataFrame(
                rows, columns=["user_id", "ts", "event_id", "value"]))
            oracle = {k: con.execute(getattr(entry, f"{k.upper()}_SQL"))
                      .fetchall() for k in b}
        finally:
            con.close()
        got = {
            "hvg": {(uid[r.series_key], r.src, r.dst) for r in edges["hvg"]},
            "nvg": {(uid[r.series_key], r.src, r.dst) for r in edges["nvg"]},
            "opg": {(uid[r.series_key], r.src_pattern, r.dst_pattern,
                     round(r.weight, 9)) for r in edges["opg"]},
            "qg": {(uid[r.series_key], r.src, r.dst, round(r.weight, 9))
                   for r in edges["qg"]},
        }
        want = {
            "hvg": {(int(u), int(s), int(d)) for u, s, d, lim
                    in oracle["hvg"] if lim == 0},
            "nvg": {(int(u), int(s), int(d)) for u, s, d in oracle["nvg"]},
            "opg": {(int(u), s, d, round(float(w), 9))
                    for u, s, d, w in oracle["opg"]},
            "qg": {(int(u), int(s), int(d), round(float(w), 9))
                   for u, s, d, w in oracle["qg"]},
        }
        for k in b:
            self.check(f"graphs.{k}_matches_duckdb_oracle",
                       got[k] == want[k] and len(want[k]) > 0,
                       f"{len(got[k])} edges vs oracle {len(want[k])}, "
                       f"{len(got[k] ^ want[k])} differ")

    # ------------------------------------------------------------ metrics
    def points_per_s(self, run) -> list[float]:
        return [o["facts"]["points"] / o["facts"]["run_s"] for o in run.ops
                if o["ok"] and o["type"] == "job"]

    def named_metrics(self, run) -> dict:
        jobs = [o for o in run.ops if o["ok"] and o["type"] == "job"]
        pps = self.points_per_s(run)
        gps = [self.series_points / s for s in run.by_type("graphs")]
        n_ok = sum(o["ok"] for o in run.ops)
        return {
            "points_per_s": (median(pps), "points/s", len(pps)),
            "retention_s": (median([o["facts"]["retention_s"]
                                    for o in jobs]), "s", len(jobs)),
            "stored_bytes_per_point": (
                self.extra.get("stored_bytes_per_point", float("nan")),
                "B/point", 1),
            "graph_points_per_s": (median(gps), "points/s", len(gps)),
            "ops_per_s": (n_ok / run.busy_s, "ops/s", n_ok),
        }

    def layer_metrics(self, run) -> dict:
        jobs = [o for o in run.ops if o["ok"] and o["type"] == "job"]
        gops = [o for o in run.ops if o["ok"] and o["type"] == "graphs"]
        st = [o["facts"]["stages"] for o in jobs]
        ex = [run.span_execs(o, under="pipeline.run") for o in jobs]
        zero = {}

        def stage(e, table, key):
            return e.get(f"catalog.write:{table}", zero).get(key, 0.0)

        m = {
            "rollup.1m_s": (median([s["rollup_1m"] for s in st]), "s"),
            "rollup.tier_up_s": (median(
                [s["rollup_1h"] + s["rollup_1d"] for s in st]), "s"),
            "chunks.s": (median([s["chunks"] for s in st]), "s"),
            "pipeline.overhead_s": (median(
                [o["facts"]["run_s"] - sum(s.values())
                 for o, s in zip(jobs, st)]), "s"),
            "rollup.py_run_s": (median(
                [stage(e, "rollup_1m", "py_run_ms") / 1e3 for e in ex]),
                "s"),
            "rollup.py_init_s": (median(
                [stage(e, "rollup_1m", "py_init_ms") / 1e3 for e in ex]),
                "s"),
            "rollup.arrow_bytes_in": (median(
                [stage(e, "rollup_1m", "arrow_bytes_in") for e in ex]), "B"),
            "rollup.arrow_bytes_out": (median(
                [stage(e, "rollup_1m", "arrow_bytes_out") for e in ex]),
                "B"),
            "rollup.shuffle_bytes_per_point": (median(
                [sum(stage(e, f"rollup_{t}", "shuffle_bytes")
                     for t in ("1m", "1h", "1d")) / self.points
                 for e in ex]), "B/point"),
            "chunks.py_run_s": (median(
                [stage(e, "chunks", "py_run_ms") / 1e3 for e in ex]), "s"),
            "catalog.write_s": (median(
                [(o["job_commit_ms"] + o["task_commit_ms"]) / 1e3
                 for o in jobs]), "s"),
            "catalog.bytes_written": (median(
                [o["write_bytes"] for o in jobs]), "B"),
            "graphs.py_run_s": (median(
                [o["py_run_ms"] / 1e3 for o in gops]), "s"),
            "graphs.arrow_bytes_out": (median(
                [o["arrow_bytes_out"] for o in gops]), "B"),
            "graphs.partition_skew": (run.skew["series"], "ratio"),
        }
        for tier in ("1m", "1h", "1d"):
            m[f"retention.rewrite_s.{tier}"] = (median(
                [run.span_seconds(o, f"catalog.write:rollup_{tier}",
                                  under="pipeline.retention")
                 for o in jobs]), "s")
        for k in ("hvg", "nvg", "opg", "qg"):
            m[f"graphs.{k}_s"] = (median(
                [run.span_seconds(o, f"graphs.{k}") for o in gops]), "s")
        units = {"lineage.rows": "count", "rollup.rows.1m": "count",
                 "rollup.rows.1h": "count", "rollup.rows.1d": "count",
                 "chunks.bytes_per_point": "B/point",
                 "pipeline.resume_s": "s"}
        for k, unit in units.items():
            m[k] = (self.extra.get(k, float("nan")), unit)
        return m

    def trace_extras(self) -> dict:
        """In-process rates on the sampled docs and series (no Spark): the gap
        to the Spark path is the Arrow crossing plus row assembly.  Exact
        edge counts of the full series frame."""
        from ts2g2_spark.functions import codecs
        from ts2g2_spark.operators import kernels

        def rate(fn, arrays, reps=3):
            t = time.perf_counter()
            for _ in range(reps):
                for a in arrays:
                    fn(a)
            return reps * sum(len(a) for a in arrays) / (
                time.perf_counter() - t)

        docs = list(self.sample.values())
        ys = list(self.series_sample.values())
        out = {"codecs.encode_points_per_s": (rate(
            lambda d: (codecs.dod_encode(np.arange(len(d), dtype=np.int64)),
                       codecs.gorilla_encode(d.astype(np.float64))), docs),
            "points/s")}
        kern = {
            "hvg": lambda y: kernels.visibility_graph(y, kind="horizontal"),
            "nvg": lambda y: kernels.visibility_graph(y, kind="natural"),
            "opg": lambda y: kernels.opg_edges(
                kernels.ordinal_patterns(y, 3, 1)),
            "qg": lambda y: kernels.qg_edges(y, 4, 1),
        }
        for k, fn in kern.items():
            out[f"kernels.{k}_points_per_s"] = (rate(fn, ys), "points/s")
        for k, build in self._builds(self.series).items():
            out[f"graphs.edges.{k}"] = (build().count(), "count")
        return out


# ----------------------------------------------------------- serve_refresh
class ServeRefresh(Workload):
    """serve_range over 1d/1h/1m tiers stitched from the latest committed
    tier snapshot, while late slices are folded into it."""

    name = "serve_refresh"
    primary = "serve"
    secondary = "fold"
    MIN_CYCLES = 3  # the first fold after set-up runs slow; median of >= 3
    N_DOCS = 700
    STEP_S = 30
    SPAN_S = 2 * 86400        # doc start offsets spread over two days
    N_SLICES = 24
    SHAPES = (("sub_hour", 600, 3000), ("multi_hour", 2 * 3600, 8 * 3600),
              ("day", 86400 + 600, 86400 + 4 * 3600))

    def generate(self) -> dict:
        docs = _docs(self.N_DOCS, self.seed, 0.0)
        lens = docs["n_tok"].to_numpy()
        off = self.rng.integers(0, self.SPAN_S, len(docs))
        doc = np.repeat(np.arange(len(docs)), lens)
        idx = np.concatenate([np.arange(n) for n in lens])
        ts = BASE_EPOCH + np.repeat(off, lens) + idx * self.STEP_S
        pts = pd.DataFrame({
            "doc_id": docs["doc_id"].to_numpy()[doc],
            "source": docs["source"].to_numpy()[doc],
            "ts": pd.to_datetime(ts, unit="s", utc=True),
            "value": np.concatenate(docs["tokens"].to_numpy())
            .astype(np.float64)})
        # late slices: the points of one seeded doc (a different doc per
        # slice, spanning at least an hour) inside a one-hour window, a
        # backlog from a reconnecting source.  Every slice has the same
        # size, and one doc keeps each fold to one rewritten hash partition
        late = np.full(len(pts), -1)
        long_docs = np.nonzero(lens * self.STEP_S >= 3600)[0]
        picks = self.rng.choice(long_docs, self.N_SLICES, replace=False)
        for k, d in enumerate(picks):
            lo = BASE_EPOCH + off[d] + self.STEP_S * self.rng.integers(
                0, lens[d] - 3600 // self.STEP_S + 1)
            late[(doc == d) & (ts >= lo) & (ts < lo + 3600)] = k
        write_parquet(pts[late < 0], self.path("base"), 2 * self.nproc,
                      POINT_SCHEMA)
        self.slice_points = []
        for k in range(self.N_SLICES):
            sl = pts[late == k]
            write_parquet(sl, self.path("late", f"{k:03d}"), 1, POINT_SCHEMA)
            self.slice_points.append(len(sl))
        self.points = len(pts)
        self.t_lo, self.t_hi = int(ts.min()), int(ts.max())
        return {"docs": len(docs), "points": self.points,
                "late_points_per_slice": float(np.mean(self.slice_points))}

    def prepare(self, spark) -> None:
        """Fold the base points into a versioned tier table through
        incremental_tier_fold (jobs/maintain_job.py's path).  Done once per
        run; it is the input of this workload, so it is timed apart from
        set-up (fold.base_s)."""
        from ts2g2_spark.streaming import ingest

        t = time.perf_counter()
        base = self.path("tier", "base")
        os.makedirs(base)
        ingest.incremental_tier_fold(spark, base)(
            spark.read.parquet(self.path("base")), 0)
        self.extra["fold.base_s"] = time.perf_counter() - t

    def load(self, spark) -> None:
        """A fresh table root holding the base snapshot (hardlinked)."""
        from ts2g2_spark.streaming import ingest

        self.spark = spark
        self.n_load = getattr(self, "n_load", 0) + 1
        self.table = self.path("tier", f"t{self.n_load}")
        shutil.copytree(self.path("tier", "base"), self.table,
                        copy_function=os.link)
        self.fold = ingest.incremental_tier_fold(spark, self.table)
        self.base = spark.read.parquet(self.path("base"))
        self.batch = 0
        self.folded: list[str] = []

    def spread_frames(self):
        return {"base": self.base}

    def _raw(self):
        return self.spark.read.parquet(self.path("base"), *self.folded)

    def _serve_df(self, t0: int, t1: int):
        from ts2g2_spark.plans import rollup as R
        from ts2g2_spark.streaming import ingest

        m1 = R.finalize_state(ingest.read_tier_snapshot(self.spark,
                                                        self.table))
        h1 = R.rollup_tier_up(m1, "1h")
        d1 = R.rollup_tier_up(h1, "1d")
        return R.serve_range(self._raw(), t0 * 10 ** 6, t1 * 10 ** 6,
                             tiers={"1m": m1, "1h": h1, "1d": d1})

    def _range(self, shape: int) -> tuple[int, int]:
        _, lo, hi = self.SHAPES[shape]
        width = int(self.rng.integers(lo, hi))
        t0 = int(self.rng.integers(self.t_lo, max(self.t_lo + 1,
                                                  self.t_hi - width)))
        return t0, t0 + width

    def _serve(self, shape: int) -> dict:
        t = time.perf_counter()
        df = self._serve_df(*self._range(shape))
        built = time.perf_counter() - t
        with self.span("serve.exec", "plans.rollup"):
            force(df)
        return {"build_ms": built * 1e3}

    def points_per_s(self, run) -> list[float]:
        return [o["facts"]["points"] / o["s"] for o in run.ops
                if o["ok"] and o["type"] == "fold"]

    def named_metrics(self, run) -> dict:
        serve = run.by_type("serve")
        fold = run.by_type("fold")
        n_ok = sum(o["ok"] for o in run.ops)
        return {
            "serve_p50_ms": (statistics.median(serve) * 1e3, "ms",
                             len(serve)),
            "refresh_p50_ms": (statistics.median(fold) * 1e3, "ms",
                               len(fold)),
            "ops_per_s": (n_ok / run.busy_s, "ops/s", n_ok),
        }

    def layer_metrics(self, run) -> dict:
        serves = [o for o in run.ops if o["ok"] and o["type"] == "serve"]
        folds = [o for o in run.ops if o["ok"] and o["type"] == "fold"]
        return {
            "serve.build_ms": (median(
                [o["facts"]["build_ms"] for o in serves]), "ms"),
            "serve.exec_ms": (median(
                [o["s"] * 1e3 - o["facts"]["build_ms"] for o in serves]),
                "ms"),
            "serve.jobs": (median([o["jobs"] for o in serves]), "count"),
            "serve.tasks": (median([o["tasks"] for o in serves]), "count"),
            "fold.jobs": (median([o["jobs"] for o in folds]), "count"),
            "fold.partitions_touched": (median(
                [o["facts"].get("partitions_touched", 0) for o in folds]),
                "count"),
            "fold.files_linked": (median(
                [o["facts"].get("files_linked", 0) for o in folds]),
                "count"),
            "fold.bytes_written": (median(
                [o["write_bytes"] for o in folds]), "B"),
            "snapshot.read_ms": (median(
                [run.span_seconds(o, "ingest.read_tier_snapshot") * 1e3
                 for o in serves]), "ms"),
            "fold.base_s": (self.extra["fold.base_s"], "s"),
        }


    def _fold(self) -> dict:
        k = self.batch
        if k >= self.N_SLICES:
            raise RuntimeError("serve_refresh ran out of late slices")
        d = self.path("late", f"{k:03d}")
        self.batch += 1
        late = self.spark.read.parquet(d)
        with self.span("ingest.fold", "streaming.ingest"):
            self.fold(late, self.batch)
        self.folded.append(d)
        facts = {"points": self.slice_points[k]}
        if self.traced:
            facts["post"] = lambda: facts.update(self._version_files())
        return facts

    def _version_files(self) -> dict:
        """Partitions the last fold rewrote vs files it hardlinked."""
        import json

        with open(os.path.join(self.table, "_LATEST")) as f:
            v = json.load(f)["version"]
        touched = linked = 0
        vdir = os.path.join(self.table, v)
        for d in os.listdir(vdir):
            if not d.startswith("_pb="):
                continue
            files = [os.path.join(vdir, d, x)
                     for x in os.listdir(os.path.join(vdir, d))]
            n_linked = sum(os.stat(x).st_nlink > 1 for x in files)
            linked += n_linked
            touched += n_linked < len(files)
        return {"partitions_touched": touched, "files_linked": linked}


    def cycle(self):
        return [("serve", lambda: self._serve(0)),
                ("serve", lambda: self._serve(1)),
                ("serve", lambda: self._serve(2)),
                ("fold", self._fold)]

    def final_checks(self) -> None:
        from ts2g2_spark.plans import rollup as R
        from ts2g2_spark.streaming import ingest

        from pyspark.sql import functions as F

        raw = self._raw()
        full = R.rollup_state(raw, "1m")
        snap = ingest.read_tier_snapshot(self.spark, self.table)

        def digest(df):
            # row count + order-independent sum of 64-bit row hashes
            return tuple(df.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64(*full.columns).cast("decimal(38,0)")))
                .collect()[0])

        a, b = digest(snap), digest(full)
        self.check("serve.snapshot_equals_full_recompute", a == b,
                   f"snapshot {a} vs recompute {b} after "
                   f"{len(self.folded)} folds")
        t0, t1 = self._range(2)
        served = sorted(map(tuple, self._serve_df(t0, t1).collect()))
        direct = sorted(map(tuple, R.serve_range(
            raw, t0 * 10 ** 6, t1 * 10 ** 6, tiers=None).collect()))
        self.check("serve.stitched_equals_raw", served == direct
                   and len(direct) > 0,
                   f"{len(served)} vs {len(direct)} series rows")


WORKLOADS = {w.name: w for w in (PipelineBatch, ServeRefresh)}


def _entry_module():
    """The gate's contract module (holds the DuckDB oracle SQL)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_spark_entry", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
