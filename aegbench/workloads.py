"""The benchmark's workloads.

Each workload prepares its seeded corpus and oracle before any timer
starts, then runs passes. ``run_pass`` is the timed unit; ``traced_pass``
runs the same work as cumulative prefixes, each under its own Spark job
group and span, so a layer's self time is the difference between
consecutive prefixes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from . import corpus, oracle
from .probes import skew

REGISTRY_MIX = (
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "aeg_compact",
    "aeg_cql_pivot",
    "text_bm25_topk",
    "dedup_ngram_coverage",
    "text_token_stats",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


class Workload:
    """Base: subclasses set ``name`` and ``layers``. Pass counts are fixed,
    the same on every commit: ``warmup`` untimed passes after the cold
    one, then ``timed`` passes, then (traced runs only) ``traced``."""

    name = ""
    #: untimed passes after the cold one; the run budget leaves room for
    #: a longer warm-up only where it measurably narrows the spread
    warmup = 1
    timed = 4
    traced = 1
    #: layer prefixes of the per-layer metrics this workload produces
    layers: tuple[str, ...] = ()

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = None
        self.verified_digest = None

    def cells_per_pass(self, i: int) -> int:
        raise NotImplementedError

    def open(self) -> None:
        """Work after the session starts and before the cold pass."""

    def before_pass(self, i: int) -> None:
        """Untimed preparation of pass ``i``."""

    def job_group(self, i: int) -> str:
        """Spark job group the untimed counts of pass ``i`` are read from."""
        return f"p{i}"

    def pass_details(self) -> dict:
        """Extra per-pass facts for the run's details line."""
        return {}

    def trace_setup(self, checks) -> None:
        """Untimed work a traced run does before its traced passes."""

    def check_traced(self, metrics: dict) -> list[str]:
        """Problems with the counts a traced pass measured."""
        return []

    def check_pass(self, i: int, digest: str) -> list[str]:
        if digest == self.verified_digest:
            return []
        return [f"pass {i} digest {digest} differs from the verified pass {self.verified_digest}"]


class SnapshotMerge(Workload):
    """SSTables -> compacted aeg-JSON snapshot, through the CLI's path."""

    name = "snapshot_merge"
    # passes speed up by about 10% from the second to the fifth; timing
    # passes 2-5 instead of 5-8 widened the run-to-run spread of wall_s
    # from 8% to 12% and of cpu_s from 6% to 16%
    warmup = 4
    layers = ("session", "sources", "sstable", "compact", "output", "streaming", "spark",
              "trace")
    shape = corpus.SnapshotShape()

    def prepare(self) -> dict:
        path = corpus.cache_dir(self.ctx.corpora, self.name, self.ctx.seed, repr(self.shape))
        self.manifest = corpus.cached(
            path, lambda d: corpus.write_snapshot_corpus(d, self.ctx.seed, self.shape))
        self.corpus = path
        self.inputs = [os.path.join(path, "sstables")]
        # target split: each big generation-0 Data.db splits in three at
        # Index.db row boundaries; the small later generations stay whole
        # and the planner bin-packs them into one more split
        self.blocksize = max(self.manifest["file_bytes"]) // 3
        self.out = os.path.join(self.ctx.rundir, "snapshot_out")
        self.expected = self._oracle()
        return self.manifest

    def _oracle_con(self):
        import duckdb

        c = self.corpus
        con = duckdb.connect()
        con.execute(f"""CREATE VIEW input AS
          SELECT key, NULL::BIGINT AS row_deleted_at, kind, name, NULL::BLOB AS name_max,
                 value, ts, ttl, ldt, tsld
          FROM read_parquet('{c}/cells.parquet') WHERE replicas > 0
          UNION ALL SELECT key, ts, 'r', NULL, NULL, NULL, NULL, NULL, NULL, NULL
          FROM read_parquet('{c}/rows.parquet') WHERE replicas > 0
          UNION ALL SELECT key, NULL, 't', lo, hi, NULL, ts, NULL, NULL, NULL
          FROM read_parquet('{c}/ranges.parquet') WHERE replicas > 0""")
        return con

    def expected_lines(self) -> list[str]:
        deleted, cells = oracle.compaction_tables(self._oracle_con())
        return oracle.aeg_json_lines(deleted, cells)

    def _oracle(self) -> str:
        path = os.path.join(self.corpus, "oracle.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)["digest"]
        want = oracle.digest(self.expected_lines())
        with open(path, "w") as f:
            json.dump({"digest": want}, f)
        return want

    def cells_per_pass(self, i: int) -> int:
        return self.manifest["input_cells"]

    def trace_setup(self, checks) -> None:
        """No pass of this workload runs the streaming layer, so a traced
        run also times the maintenance merge that follows a bulk snapshot:
        ``incremental_merge``'s pass, in this session, after that
        workload's own cold pass and warm-up, each merge checked."""
        s = self.stream = IncrementalMerge(self.ctx)
        s.spark = self.spark
        s.prepare()
        s.open()
        for j in range(1 + s.warmup):
            s.before_pass(j)
            s.run_pass(j)
            problems = s.check_pass(j, s.pass_digest(j))
            checks.add(f"streaming merge {j}", not problems, problems)
        self.stream_pass = 1 + s.warmup

    def check_traced(self, metrics: dict) -> list[str]:
        want = self.manifest["input_cells"]
        problems = list(self.stream_problems)
        if metrics["sstable.cells"] != want:
            problems.append(f"decoded {metrics['sstable.cells']} cells, "
                            f"the corpus manifest states {want}")
        return problems

    def output_lines(self) -> list[str]:
        lines = []
        for p in sorted(glob.glob(os.path.join(self.out, "part-*"))):
            with open(p) as f:
                lines.extend(f.read().splitlines())
        return lines

    def run_pass(self, i: int) -> None:
        from aegisthus_spark import job

        rows = job.compact_snapshot(self.spark, self.inputs, blocksize=self.blocksize)
        job.write_snapshot_json(rows, self.out)

    def pass_digest(self, i: int) -> str:
        return oracle.digest(self.output_lines())

    def verify_first(self, checks) -> None:
        got = self.output_lines()
        d = oracle.digest(got)
        problems = [] if d == self.expected else oracle.diff_lines(got, self.expected_lines())
        checks.add("oracle", not problems, problems)
        missed = oracle.check_planted_defects(got)
        checks.add("planted_defects_rejected", not missed, missed)
        self.verified_digest = d

    def traced_pass(self, i: int, tracer, counts) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from aegisthus_spark import job
        from aegisthus_spark.sources import discover_data_files, plan_partitions, read_sstable_cells

        sc = self.spark.sparkContext
        m: dict = {}
        with tracer.span("pass"):
            with tracer.span("sources.discover"):
                files = discover_data_files(self.inputs)
            with tracer.span("sources.plan"):
                parts = plan_partitions(files, target_bytes=self.blocksize)
            sc.setJobGroup(f"t{i}-decode", "prefix: read_sstable_cells -> noop")
            with tracer.span("prefix.decode"):
                obs = Observation()
                cells = read_sstable_cells(self.spark, self.inputs, target_bytes=self.blocksize)
                cells.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop") \
                    .mode("overwrite").save()
            m["sstable.cells"] = obs.get["n"]
            sc.setJobGroup(f"t{i}-compact", "prefix: compact_snapshot -> noop")
            with tracer.span("prefix.compact"):
                obs = Observation()
                rows = job.compact_snapshot(self.spark, self.inputs, blocksize=self.blocksize)
                rows.observe(obs, F.count(F.lit(1)).alias("rows"),
                             F.sum(F.size("columns")).alias("cells")) \
                    .write.format("noop").mode("overwrite").save()
            m["compact.rows_out"], m["compact.cells_out"] = obs.get["rows"], obs.get["cells"]
            sc.setJobGroup(f"t{i}-write", "full pass: compact_snapshot -> aeg-JSON")
            with tracer.span("prefix.write"):
                rows = job.compact_snapshot(self.spark, self.inputs, blocksize=self.blocksize)
                m["output.rows"] = job.write_snapshot_json(rows, self.out)
        span = {n: tracer.durations(n)[-1] for n in
                ("sources.discover", "sources.plan", "prefix.decode", "prefix.compact",
                 "prefix.write")}
        decode, comp = counts.group(f"t{i}-decode"), counts.group(f"t{i}-compact")
        sizes = [sum(sp[2] - sp[1] for sp in part) for part in parts]
        plan = span["sources.discover"] + span["sources.plan"]
        m.update({
            "sources.discover_s": span["sources.discover"],
            "sources.plan_s": span["sources.plan"],
            "sources.splits": len(parts),
            "sources.split_skew": skew(sizes),
            "sstable.decode_s": span["prefix.decode"] - plan,
            "sstable.task_skew": skew(decode["task_s"]),
            "compact.self_s": span["prefix.compact"] - span["prefix.decode"],
            "compact.cells_in": m["sstable.cells"],
            "compact.shuffle_bytes": comp["shuffle_bytes"],
            "compact.spill_bytes": comp["spill_bytes"],
            "output.self_s": span["prefix.write"] - span["prefix.compact"],
            "output.bytes": _dir_bytes(self.out),
            "trace.pass_s": tracer.durations("pass")[-1],
        })
        m["sstable.mb_per_s"] = self.manifest["data_bytes"] / 1e6 / m["sstable.decode_s"]
        m["compact.keep_ratio"] = m["compact.cells_out"] / m["compact.cells_in"]
        s, j = self.stream, self.stream_pass
        s.before_pass(j)
        m.update(s.streaming_step(j, tracer))
        self.stream_problems = s.check_pass(j, s.pass_digest(j))
        self.stream_pass += 1
        return m


class RegistryMix(Workload):
    """One closed-loop client running a fixed ordered mix of registered
    queries, each fully materialized, against seeded parquet tables."""

    name = "registry_mix"
    timed = 3  # a round takes about twice a snapshot_merge pass
    layers = ("session", "queries", "spark", "trace")
    scale = 0.01

    def prepare(self) -> dict:
        path = corpus.cache_dir(self.ctx.corpora, self.name, self.ctx.seed, repr(self.scale))
        self.manifest = corpus.cached(
            path, lambda d: corpus.write_tables(d, self.ctx.seed, self.scale))
        self.sf = path
        self.results: dict = {}
        return self.manifest

    def cells_per_pass(self, i: int) -> int:
        """Rows x columns of every input table, from the corpus manifest:
        what the round is given, not what its scans happen to read."""
        return self.manifest["table_cells"]

    def _query(self, name: str):
        """Build and collect one query: (Arrow result, construct s, execute s)."""
        from aegisthus_spark.queries import REGISTRY

        t0 = time.perf_counter()
        df = REGISTRY[name].fn(self.spark, self.sf)
        t1 = time.perf_counter()
        table = df.toArrow()
        t2 = time.perf_counter()
        return table, t1 - t0, t2 - t1

    def run_pass(self, i: int) -> None:
        self.results, self.query_s = {}, {}
        for q in REGISTRY_MIX:
            self.results[q], construct, execute = self._query(q)
            self.query_s[q] = construct + execute

    def pass_details(self) -> dict:
        return {"query_s": self.query_s}

    def pass_digest(self, i: int) -> str:
        return json.dumps({q: _frame_digest(_to_pandas(t)) for q, t in self.results.items()},
                          sort_keys=True)

    def verify_first(self, checks) -> None:
        import duckdb

        from aegisthus_spark.queries import REGISTRY

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.sf, t)}.parquet')")
        for q, table in self.results.items():
            want = con.execute(REGISTRY[q].sql).df()
            problems = _compare(_to_pandas(table), want)
            checks.add(f"oracle.{q}", not problems, problems)
        self.verified_digest = self.pass_digest(0)

    def traced_pass(self, i: int, tracer, counts) -> dict:
        sc = self.spark.sparkContext
        m: dict = {"queries.construct_s": 0.0, "queries.execute_s": 0.0}
        sc.setJobGroup(f"t{i}", "traced round")
        results = {}
        with tracer.span("pass"):
            for q in REGISTRY_MIX:
                with tracer.span(f"queries.{q}"):
                    results[q], construct, execute = self._query(q)
                m["queries.construct_s"] += construct
                m["queries.execute_s"] += execute
                m[f"queries.{q}_s"] = construct + execute
        self.results = results
        m["trace.pass_s"] = tracer.durations("pass")[-1]
        return m


class IncrementalMerge(Workload):
    """Structured-streaming merge of one churn batch per pass into a
    compacted snapshot (availableNow), publishing a version per pass."""

    name = "incremental_merge"
    layers = ("session", "compact", "streaming", "spark", "trace")
    shape = corpus.ChurnShape()

    def prepare(self) -> dict:
        path = corpus.cache_dir(self.ctx.corpora, self.name, self.ctx.seed, repr(self.shape))
        self.manifest = corpus.cached(
            path, lambda d: corpus.write_churn_corpus(d, self.ctx.seed, self.shape))
        self.corpus = path
        # pass i merges batch i + 1: one batch per pass, counting the cold
        # pass and the untraced pass that follows the traced ones
        need = 1 + self.warmup + self.timed + self.traced + 1
        assert self.shape.batches >= need, f"{self.shape.batches} batches, {need} passes"
        base = os.path.join(self.ctx.rundir, "incremental")
        shutil.rmtree(base, ignore_errors=True)
        self.cells_dir = os.path.join(base, "cells")
        self.snap = os.path.join(base, "snapshot")
        self.ckpt = os.path.join(base, "checkpoint")
        self.published = 0  # batches merged into the snapshot so far
        self._stage(0)
        return self.manifest

    def _batch_file(self, b: int) -> str:
        if b == 0:
            return os.path.join(self.corpus, "base.parquet")
        return os.path.join(self.corpus, "batches", f"b{b:05d}.parquet")

    def _stage(self, b: int) -> None:
        d = os.path.join(self.cells_dir, f"b{b:05d}")
        os.makedirs(d)
        shutil.copyfile(self._batch_file(b), os.path.join(d, "part-0.parquet"))

    def cells_per_pass(self, i: int) -> int:
        return self.manifest["base_cells"] + self.manifest["batch_cells"][i]

    def _merge(self):
        from aegisthus_spark.streaming.incremental import start_incremental_snapshot

        q = start_incremental_snapshot(self.spark, self.cells_dir, self.snap, self.ckpt,
                                       available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def open(self) -> None:
        """Build the base snapshot (version 0) from the base cells."""
        self._merge()

    def run_pass(self, i: int) -> None:
        self.last_query = self._merge()
        self.published = i + 1

    def before_pass(self, i: int) -> None:
        """Outside the timer: land the next batch, drop old versions."""
        from aegisthus_spark.streaming.incremental import latest_snapshot_version

        v = latest_snapshot_version(self.snap)
        for old in glob.glob(os.path.join(self.snap, "v*")):
            if int(os.path.basename(old)[1:]) < v:
                shutil.rmtree(old)
        self._stage(i + 1)

    def _version_dir(self) -> str:
        from aegisthus_spark.streaming.incremental import latest_snapshot_version

        return os.path.join(self.snap, f"v{latest_snapshot_version(self.snap):05d}")

    def _expected(self, upto: int) -> str:
        """Oracle digest of base + batches 1..upto, cached with the corpus."""
        path = os.path.join(self.corpus, "oracle.json")
        cache = {}
        if os.path.exists(path):
            with open(path) as f:
                cache = json.load(f)
        if str(upto) not in cache:
            import duckdb

            con = duckdb.connect()
            files = ", ".join(f"'{self._batch_file(b)}'" for b in range(upto + 1))
            con.execute(f"""CREATE VIEW input AS SELECT partition_key AS key, row_deleted_at,
                kind, cell_name AS name, cell_name_max AS name_max, value, ts, ttl,
                local_deletion_time AS ldt, ts_of_last_delete AS tsld
                FROM read_parquet([{files}])""")
            cache[str(upto)] = oracle.oracle_snapshot_digest(con)
            with open(path + ".tmp", "w") as f:
                json.dump(cache, f)
            os.replace(path + ".tmp", path)
        return cache[str(upto)]

    def pass_digest(self, i: int) -> str:
        import duckdb

        return oracle.snapshot_parquet_digest(duckdb.connect(), self._version_dir())

    def check_pass(self, i: int, digest: str) -> list[str]:
        want = self._expected(self.published)
        return [] if digest == want else [f"version digest {digest}, oracle {want}"]

    def verify_first(self, checks) -> None:
        d = self.pass_digest(0)
        problems = self.check_pass(0, d)
        checks.add("oracle", not problems, problems)
        self.verified_digest = d

    def traced_pass(self, i: int, tracer, counts) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from aegisthus_spark.compact import compact
        from aegisthus_spark.streaming.incremental import (CELLS_DDL, read_snapshot,
                                                           rows_to_cells)

        sc = self.spark.sparkContext
        batch_file = self._batch_file(i + 1)
        m: dict = {}
        with tracer.span("pass"):
            sc.setJobGroup(f"t{i}-read", "prefix: snapshot as cells + batch -> noop")
            with tracer.span("prefix.read"):
                obs = Observation()
                batch = self.spark.read.schema(CELLS_DDL).parquet(batch_file)
                cells = rows_to_cells(read_snapshot(self.spark, self.snap)).unionByName(batch)
                cells.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop") \
                    .mode("overwrite").save()
            m["compact.cells_in"] = obs.get["n"]
            sc.setJobGroup(f"t{i}-compact", "prefix: compact -> noop")
            with tracer.span("prefix.compact"):
                obs = Observation()
                batch = self.spark.read.schema(CELLS_DDL).parquet(batch_file)
                cells = rows_to_cells(read_snapshot(self.spark, self.snap)).unionByName(batch)
                compact(cells, keep_range_tombstones=True) \
                    .observe(obs, F.count(F.lit(1)).alias("rows"),
                             F.sum(F.size("columns")).alias("cells")) \
                    .write.format("noop").mode("overwrite").save()
            m["compact.rows_out"], m["compact.cells_out"] = obs.get["rows"], obs.get["cells"]
            m.update(self.streaming_step(i, tracer))
        span = {n: tracer.durations(n)[-1] for n in ("prefix.read", "prefix.compact")}
        comp = counts.group(f"t{i}-compact")
        m.update({
            "compact.self_s": span["prefix.compact"] - span["prefix.read"],
            "compact.keep_ratio": m["compact.cells_out"] / m["compact.cells_in"],
            "compact.shuffle_bytes": comp["shuffle_bytes"],
            "compact.spill_bytes": comp["spill_bytes"],
            "trace.pass_s": tracer.durations("pass")[-1],
        })
        return m

    def streaming_step(self, i: int, tracer) -> dict:
        """Pass ``i`` under a ``streaming.batch`` span, and what it wrote."""
        with tracer.span("streaming.batch"):
            self.run_pass(i)
        written = _dir_bytes(self._version_dir())
        return {
            "streaming.batch_s": tracer.durations("streaming.batch")[-1],
            "streaming.bytes_written": written,
            "streaming.write_amplification": written / os.path.getsize(self._batch_file(i + 1)),
        }

    def job_group(self, i: int) -> str:
        return str(self.last_query.runId)


def _to_pandas(table):
    """Arrow result -> pandas as Spark's ``toPandas`` gives it: timestamps
    naive in the session time zone (UTC)."""
    df = table.to_pandas()
    for c in df.columns:
        if getattr(df[c].dtype, "tz", None) is not None:
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def _compare(got, want) -> list[str]:
    """``tools/check_oracle.compare``'s rule (same columns and row count,
    values equal after sorting every row, NaN equal to NaN), column-wise."""
    from tools.check_oracle import norm

    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: {sorted(got.columns)} vs oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle has {len(want)}"]
    g, w = norm(got), norm(want)
    problems = []
    for c in g.columns:
        a, b = g[c].astype(object), w[c].astype(object)
        same = (a == b) | (a.isna() & b.isna())
        if not same.all():
            i = int((~same).to_numpy().argmax())
            problems.append(f"column {c}: {int((~same).sum())} values differ, "
                            f"first at row {i}: {a.iloc[i]!r} vs oracle {b.iloc[i]!r}")
    return problems


def _frame_digest(df) -> str:
    """Digest of a result frame, insensitive to row order; floating-point
    values at 10 significant digits, so a different summation order in a
    parallel aggregate does not read as a different answer."""
    import hashlib

    import pandas as pd

    from tools.check_oracle import norm

    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].map(lambda v: "nan" if pd.isna(v) else f"{v:.9e}")
    df = norm(df)
    h = hashlib.blake2b(digest_size=12)
    h.update(",".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return f"{len(df)}:{h.hexdigest()}"


WORKLOADS = {w.name: w for w in (SnapshotMerge, RegistryMix, IncrementalMerge)}
