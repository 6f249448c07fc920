"""Workloads of the repo benchmark: seeded corpora, the closed-loop
backfill workloads, the partitioned store the traced run measures, and the
checks on their outputs.

A workload offers:

* ``full_pass()`` — a noop-sink backfill of the whole corpus;
* ``checks()`` — output checks, each a (name, passed) pair;
* ``prefixes()`` — the cumulative pipeline prefixes the traced run times.

``PartitionedStore`` refreshes a workload's features into a parquet
directory, partition by partition, and ``upsert(k)`` appends new
conversations that all land in one conv-id hash partition, then refreshes
that partition.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nfl_feature_store_spark.functions.turn_metrics import dedup_latest, with_turn_metrics
from nfl_feature_store_spark.operators.ewma import with_ewma
from nfl_feature_store_spark.operators.sessionize import sessionize
from nfl_feature_store_spark.operators.windows import FeatureSpec, compile_window_features
from nfl_feature_store_spark.plans import PartitionManifest, backfill_features
from nfl_feature_store_spark.plans.checkpoint import ParquetDirSink, run_partitioned_backfill
from nfl_feature_store_spark.sources import gen_transcripts_distributed

DUP_PCT = 1  # duplicate deliveries per 100 turns, re-sent 120 s later (FIXTURES F1)
PARTS = 2  # conv-id hash partitions: the refresh unit and the upsert target
APPEND_CONVS = 20  # conversations per upsert append, all in one partition
EWMA_SPAN = 10
REFEREE_CONVS = 40  # entities in the seeded referee sample
REFEREE_WIDE_METRICS = 3  # derived metrics the wide referee re-computes
SAMPLE_EVERY = 8  # the traced run's store and rank probe take 1 in 8 conversations

RANK_METRIC = "roll10_chars"

#: name -> (conversations, avg_turns, derived metrics, rank on).
#: avg_turns=33 gives ~40 turns per conversation, as bench.py's scaling
#: corpus; wide190 takes shorter conversations so that its small corpus
#: still holds ~1,000 of them and its size varies less by seed.
SIZES = {
    "narrow_backfill": (3000, 33, 0, True),
    "wide190_backfill": (1000, 10, 187, False),
}


def part_of(conv_id) -> F.Column:
    """Conv-id hash partition of a row, as a string partition value."""
    return F.pmod(F.xxhash64(conv_id), F.lit(PARTS)).cast("string")


def digest(df: DataFrame) -> tuple[int, int]:
    """Order-independent (rows, content hash) of ``df``: the sum of pandas
    row hashes over its Arrow batches, mod 2**64. On the wide spec this adds
    half as much to a pass as one Spark ``xxhash64`` over all 1,100+
    columns, a method too large for the JIT."""

    # nested, so that it is pickled by value: workers cannot import this module
    def row_hash_sums(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        rows, total = 0, np.uint64(0)
        for b in batches:
            rows += b.num_rows
            total += pd.util.hash_pandas_object(b.to_pandas(), index=False).to_numpy().sum(dtype=np.uint64)
        yield pa.RecordBatch.from_pydict({"n": [rows], "h": [int(total.astype(np.int64))]})

    parts = df.mapInArrow(row_hash_sums, "n long, h long").collect()
    return sum(r["n"] for r in parts), sum(r["h"] for r in parts) % 2**64


def make_corpus(spark: SparkSession, path: str, seed: int, n_convs: int, avg_turns: int) -> tuple[DataFrame, dict]:
    """Generate the seeded corpus into parquet under ``path``; return it with
    its turn count and deduplicated turn count.

    Every run generates its corpus, even for a seed seen before: a cached
    corpus would leave the JVM colder on a hit than on a miss and so move
    set-up time by a quarter between otherwise equal runs."""
    base_path, resent_path = os.path.join(path, "base"), os.path.join(path, "resent")
    gen_transcripts_distributed(spark, n_convs=n_convs, avg_turns=avg_turns, seed=seed).write.parquet(base_path)
    base = spark.read.parquet(base_path)
    base.filter(
        F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed)), F.lit(100)) < DUP_PCT
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 120 SECONDS")).write.parquet(resent_path)
    resent = spark.read.parquet(resent_path)
    # the generator emits each (conv_id, turn_idx) once, so base holds the
    # deduplicated turns
    counts = {"dedup_rows": base.count()}
    counts["turns"] = counts["dedup_rows"] + resent.count()
    return base.unionByName(resent), counts


class Workload:
    """A FeatureSpec backfilled over a seeded corpus into the noop sink.

    The first execution (set-up) and the checks sink the same features into
    an order-independent digest instead; timed passes use the noop sink
    because on the wide spec hashing 1,100+ columns costs about as much as
    the window kernel."""

    def __init__(self, spark: SparkSession, name: str, seed: int, run_dir: str):
        """``run_dir`` holds this workload's files until :meth:`close`."""
        n_convs, self.avg_turns, n_derived, self.rank_on = SIZES[name]
        self.spark, self.name, self.seed, self.run_dir = spark, name, seed, run_dir
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        t0 = time.perf_counter()
        corpus, counts = make_corpus(spark, os.path.join(run_dir, "corpus"), seed, n_convs, self.avg_turns)
        self.gen_s = time.perf_counter() - t0
        self.derived = {
            f"w{i:03d}": (F.xxhash64("conv_id", "turn_idx", F.lit(i)) % 1000).cast("double")
            for i in range(n_derived)
        }
        self.spec = FeatureSpec(metrics=("chars", "words", "is_tool") + tuple(self.derived))
        self.transcripts = corpus
        self.turns = counts["turns"]
        self.dedup_rows = counts["dedup_rows"]
        self.digests: list[tuple[int, int]] = []

    # inputs --------------------------------------------------------------

    def inputs(self, tr: DataFrame) -> DataFrame:
        """Transcripts plus the derived metric columns the spec reads."""
        return tr.withColumns(self.derived) if self.derived else tr

    def sample(self, every: int) -> DataFrame:
        """The transcripts of about one in ``every`` conversations, chosen
        by a seeded hash of the conv id."""
        return self.transcripts.filter(F.pmod(F.xxhash64("conv_id", F.lit(self.seed)), F.lit(every)) == 0)

    # pipeline ------------------------------------------------------------

    def features(self, tr: DataFrame, rank: bool | None = None) -> DataFrame:
        """The backfill, with per-day rank as the workload runs it unless
        ``rank`` says otherwise."""
        return backfill_features(
            self.inputs(tr),
            spec=self.spec,
            ewma_span=EWMA_SPAN,
            rank_metric=RANK_METRIC if (self.rank_on if rank is None else rank) else None,
        )

    def prefixes(self) -> list[tuple[str, DataFrame]]:
        """Cumulative prefixes scan -> dedup+metrics+sessionize -> kernel
        (-> rank); successive differences of their walls are layer self
        times."""
        x = self.inputs(self.transcripts)
        out = [
            ("scan", x),
            ("dedup_sessionize", sessionize(with_turn_metrics(dedup_latest(x)), entity_col=self.spec.entity_col)),
            ("kernel", self.features(self.transcripts, rank=False)),
        ]
        if self.rank_on:
            out.append(("rank", self.features(self.transcripts)))
        return out

    def rank_probe(self) -> tuple[DataFrame, DataFrame]:
        """The kernel prefix without and with per-day rank, on one in
        SAMPLE_EVERY conversations. On a workload that runs rank off, the
        traced run times rank as the difference of their walls."""
        sample = self.sample(SAMPLE_EVERY)
        return self.features(sample, rank=False), self.features(sample, rank=True)

    # timed operations ----------------------------------------------------

    def full_pass(self) -> None:
        self.features(self.transcripts).write.format("noop").mode("overwrite").save()

    def warm_up(self) -> None:
        """First execution of the full pass."""
        self.digests.append(digest(self.features(self.transcripts)))

    # checks --------------------------------------------------------------

    def referee_check(self) -> bool:
        """On a seeded entity sample, the workload's non-rank features equal
        the referee path ``compile_window_features`` + ``with_ewma`` exactly.
        The wide spec's referee covers the 3 real metrics and a seeded few
        derived ones; the kernel computes every metric's families
        independently."""
        sample = self.sample(max(1, SIZES[self.name][0] // REFEREE_CONVS))
        derived = sorted(self.derived)
        picks = (
            sorted({derived[(self.seed * 31 + 17 * i) % len(derived)] for i in range(REFEREE_WIDE_METRICS)})
            if derived
            else []
        )
        ref_spec = FeatureSpec(metrics=("chars", "words", "is_tool") + tuple(picks))
        ref_in = sample.withColumns({m: self.derived[m] for m in picks})
        base = sessionize(with_turn_metrics(dedup_latest(ref_in)), entity_col=ref_spec.entity_col)
        ref = with_ewma(
            compile_window_features(base, ref_spec),
            metrics=ref_spec.metrics,
            span=EWMA_SPAN,
            entity_col=ref_spec.entity_col,
            order_cols=ref_spec.order_cols,
        )
        prod = self.features(sample, rank=False).select(ref.columns)
        # a few thousand rows: compare them exactly on the driver, one job a side
        keys = ["conv_id", "turn_idx", "ts"]
        return prod.orderBy(keys).collect() == ref.orderBy(keys).collect()

    def checks(self) -> list[tuple[str, bool]]:
        self.digests.append(digest(self.features(self.transcripts)))
        return [
            ("rows_equal_dedup_input", all(rows == self.dedup_rows for rows, _ in self.digests)),
            ("digest_stable_across_iterations", len(set(self.digests)) == 1),
            ("referee_sample_equal", self.referee_check()),
        ]

    def close(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


class PartitionedStore:
    """``run_partitioned_backfill`` of a workload's features (rank off), on
    one in SAMPLE_EVERY of its conversations, into a ``ParquetDirSink`` over
    conv-id hash partitions (``lookback_parts=0``: a partition holds whole
    conversations, so it needs no warm-up rows). The traced run measures
    the checkpoint layer on it."""

    def __init__(self, wl: Workload, run_dir: str):
        self.wl, self.spark, self.run_dir = wl, wl.spark, run_dir
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        self.transcripts = wl.sample(SAMPLE_EVERY)
        counts = self.transcripts.agg(F.count("*"), F.count_distinct("conv_id", "turn_idx")).first()
        self.turns, self.dedup_rows = counts
        self.manifest_path = os.path.join(run_dir, "manifest.jsonl")
        self.data_dir = os.path.join(run_dir, "data")

    def build(self, tr: DataFrame) -> DataFrame:
        return self.wl.features(tr, rank=False)

    def append_batch(self, k: int) -> tuple[DataFrame, str]:
        """New conversations for upsert round ``k``, all in one partition."""
        target = str(k % PARTS)
        new = gen_transcripts_distributed(
            self.spark, n_convs=APPEND_CONVS * PARTS, avg_turns=self.wl.avg_turns, seed=self.wl.seed * 7919 + k + 1
        )
        new = new.withColumn("conv_id", F.concat(F.lit(f"a{k:03d}_"), F.col("conv_id")))
        return new.filter(part_of(F.col("conv_id")) == target), target

    def _backfill(self, mode: str, sink: ParquetDirSink, manifest: PartitionManifest, build) -> list[str]:
        return run_partitioned_backfill(
            self.spark,
            self.transcripts,
            self.data_dir,
            manifest,
            build,
            partition_expr=part_of(F.col("conv_id")),
            lookback_parts=0,
            mode=mode,
            sink=sink,
        )

    def upsert(self, k: int) -> dict:
        new, target = self.append_batch(k)
        added = new.count()  # new conversations: no duplicate deliveries
        self.transcripts = self.transcripts.unionByName(new)
        self.turns += added
        self.dedup_rows += added
        built = self._backfill(
            "upsert", ParquetDirSink(self.data_dir), PartitionManifest(self.manifest_path), self.build
        )
        return {"built": built, "target": target}

    def checks(self) -> list[tuple[str, bool]]:
        """The written partitions equal a single-pass backfill."""
        single = self.build(self.transcripts)
        written = self.spark.read.parquet(self.data_dir).select(single.columns)
        rows, h = digest(written)
        return [
            ("rows_equal_dedup_input", rows == self.dedup_rows),
            ("partitions_union_equals_single_pass", (rows, h) == digest(single)),
        ]

    def traced_refresh(self, tracer) -> None:
        """A full refresh with spans around the calls it makes into its
        build function, sink and manifest: ``checkpoint.fingerprint``,
        ``checkpoint.build``, ``checkpoint.write_partition`` and
        ``checkpoint.verify``, under one ``checkpoint.refresh``."""
        marks = {"start": time.perf_counter(), "built": False, "read": None}

        def build(tr: DataFrame) -> DataFrame:
            if not marks["built"]:
                tracer.add("checkpoint.fingerprint", marks["start"], time.perf_counter())
                marks["built"] = True
            with tracer.span("checkpoint.build"):
                return self.build(tr)

        with tracer.span("checkpoint.refresh"):
            self._backfill(
                "refresh",
                sink=_TracedSink(self.data_dir, tracer, marks),
                manifest=_TracedManifest(self.manifest_path, tracer, marks),
                build=build,
            )

    def close(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


class _TracedSink(ParquetDirSink):
    """Spans each ``write_partition`` and marks when verification starts."""

    def __init__(self, out_dir: str, tracer, marks: dict):
        super().__init__(out_dir)
        self.tracer, self.marks = tracer, marks

    def write_partition(self, df: DataFrame, partition: str) -> dict:
        with self.tracer.span("checkpoint.write_partition", partition=partition) as s:
            meta = super().write_partition(df, partition)
        s["bytes_out"] = meta["bytes_out"]
        return meta

    def read_partition(self, spark: SparkSession, partition: str) -> DataFrame:
        self.marks["read"] = time.perf_counter()
        return super().read_partition(spark, partition)


class _TracedManifest(PartitionManifest):
    """Closes the verify span (read-back and its aggregate) at ``record``."""

    def __init__(self, path: str, tracer, marks: dict):
        super().__init__(path)
        self.tracer, self.marks = tracer, marks

    def record(self, partition: str, fingerprint: str, metrics: dict) -> None:
        self.tracer.add("checkpoint.verify", self.marks["read"], time.perf_counter(), partition=partition)
        super().record(partition, fingerprint, metrics)
