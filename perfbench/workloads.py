"""The benchmark's workloads: real user jobs over ``sources.synth`` inputs.

Every workload has the same life cycle, driven by ``run.py``:

- ``setup``: generate the inputs from the seed and cache them;
- ``cold``: the fresh job a user runs, fit, then ``transform()``, then
  the first forced action (for ``feature_job``, the interrupted writer
  run), each call timed from outside as one step;
- ``finish``: work that completes the job after the cold phase (the
  ``feature_job`` resume run);
- warm: repeat forced actions on the built DataFrames (``run.py``);
- ``check``: compare the outputs against ``oracles``, after timing;
- ``trace_counts``: counts a layer keeps to itself, recounted in the
  traced session only.

Calls into a layer that ``Pipeline.fit`` or a data op makes internally
(an estimator's ``fit``, the big-vocab ``transform``, ``fit_centroids``)
are wrapped in a named step as well, so the traced run can charge time
to that layer without any change to ``kamae_spark``.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import oracles
import wide

STEP_PROPERTY = "perfbench.step"


def force(df: DataFrame) -> None:
    """Compute every column end to end with no sink cost."""
    df.write.format("noop").mode("overwrite").save()


class Steps:
    """Wall time of named calls, tagged in Spark's job properties so the
    event log can attribute jobs to the call that started them."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext
        self.seconds: dict[str, float] = {}
        self._open: list[str] = []

    @contextlib.contextmanager
    def __call__(self, name: str):
        """Time a call; jobs it starts carry the path of open steps,
        such as ``fit/indexers.fit``."""
        self._open.append(name)
        self._sc.setLocalProperty(STEP_PROPERTY, "/".join(self._open))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = self.seconds.get(name, 0.0) + time.perf_counter() - t0
            self._open.pop()
            self._sc.setLocalProperty(STEP_PROPERTY, "/".join(self._open) or None)

    def wrap(self, fn, name: str):
        def spanned(*args, **kwargs):
            with self(name):
                return fn(*args, **kwargs)
        return spanned


@dataclass
class Job:
    outputs: list[DataFrame]
    """What a warm action forces."""
    state: dict = field(default_factory=dict)
    """Workload-specific results the checks and metrics read."""


def _sample(cols: tuple[str, ...], seed: int, mod: int):
    """Hash-selected ~1/mod sample of rows by key columns, different per seed."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols], F.lit(seed)), F.lit(mod)) == 0


def _cached(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.cache()
    return df, df.count()


# -- feature_job ----------------------------------------------------------------


class FeatureJob:
    """A Kamae-style feature job over cached transcripts, materialized by
    ``CheckpointedFeatureWriter``:

    - the flagship point-in-time model (lag/lead, rolling aggregates,
      backfill, sessionize, list aggregate, as-of join), followed by the
      encoders a training job fits on the same table: a string index over
      the turn text (one label per turn, so the vocab is far above
      ``VOCAB_JOIN_THRESHOLD`` and the broadcast-join tier runs), a
      one-hot of the role and a standard scaler;
    - then the row-wise config of ``wide.py``, as a second pipeline: its
      in-place replacements make the pipeline keep declared order, which
      would stop the as-of join from being scheduled early;
    - written by the writer, cut after half the buckets, then resumed.
    """

    name = "feature_job"
    sizes = {"n_convs": 5_000, "n_chains": 10, "n_buckets": 4, "conv_sample_mod": 25,
             "row_sample_mod": 20}

    def n_chains(self, scale):
        return max(4, int(self.sizes["n_chains"] * min(1.0, scale * 4)))

    def setup(self, spark, seed, scale=1.0):
        from kamae_spark.sources.synth import annotations_table, transcripts_table

        n = max(50, int(self.sizes["n_convs"] * scale))
        t = transcripts_table(spark, n_convs=n, seed=seed)
        t, rows = _cached(t.select(
            "*",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            *[((F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(seed), F.lit(j)),
                       F.lit(2001)) - 1000) / 10.0).alias(f"raw{j}")
              for j in range(len(wide.raw_cols(self.n_chains(scale))))],
        ))
        # the annotation's own timestamp rides along as a payload column so
        # the as-of result can be checked for look-ahead
        ann, _ = _cached(annotations_table(spark, t, seed=seed)
                         .select("*", F.col("ts").alias("ann_ts")))
        return {"turns": t, "ann": ann, "rows": rows, "cached": [t, ann], "scale": scale,
                "n_convs": n}

    @staticmethod
    def pit_stages(ann):
        from kamae_spark.operators.joins import AsOfJoin
        from kamae_spark.operators.windows import (
            Backfill, ConditionalRollingCount, Lag, Lead, ListAgg, RollingAgg, Sessionize)

        order = ("ts", "turn_idx")
        return [
            Lag(input_col="text", output_col="prev_text", order_by=order),
            Lead(input_col="text", output_col="next_text", order_by=order),
            Lag(input_col="ts", output_col="prev_ts", order_by=order),
            RollingAgg(input_col="turn_idx", output_col="turns_5", agg="count", rows=5,
                       order_by=order),
            RollingAgg(input_col="turn_idx", output_col="mean_10", agg="mean", rows=10,
                       order_by=order),
            ConditionalRollingCount(input_col="role", output_col="role_freq_10",
                                    value="assistant", rows=10, order_by=order),
            Backfill(input_col="tool", output_col="tool_ff", order_by=order),
            Sessionize(ts_col="ts", output_col="session_idx", gap_seconds=1800,
                       order_by=order, session_id_col="session_id"),
            ListAgg(input_col="turn_idx", output_col="conv_len", agg="count"),
            AsOfJoin(on=("conv_id",), right=ann, strategy="union"),
        ]

    @staticmethod
    def encoders(step):
        from kamae_spark.operators.indexers import OneHotEncodeEstimator, StringIndexEstimator
        from kamae_spark.operators.scalers import StandardScaleEstimator

        ests = [
            StringIndexEstimator(input_col="text", output_col="text_idx"),
            OneHotEncodeEstimator(input_col="role", output_col="role_oh"),
            StandardScaleEstimator(input_col="turn_idx", output_col="turn_idx_std"),
        ]
        for est, name in zip(ests, ("indexers.fit", "indexers.onehot_fit", "scalers.fit")):
            est.fit = step.wrap(est.fit, name)
        return ests

    def wide_stages(self, scale):
        from kamae_spark.core.stage import registry

        import kamae_spark.operators  # noqa: F401  (registers the stage classes)

        return [registry[k](**p) for k, p in wide.config(self.n_chains(scale))]

    def cold(self, spark, inp, step, work_dir):
        from kamae_spark import Pipeline
        from kamae_spark.operators.indexers import StringIndexTransformer
        from kamae_spark.sources.io import CheckpointedFeatureWriter

        t = inp["turns"]
        with step("fit"):
            pit = Pipeline(self.pit_stages(inp["ann"]) + self.encoders(step)).fit(t)
        indexer = next(s for s in pit.stages if type(s) is StringIndexTransformer)
        indexer.transform = step.wrap(indexer.transform, "indexers.transform")
        with step("transform"):
            feats = pit.transform(t)
        with step("fit"):
            rowwise = Pipeline(self.wide_stages(inp["scale"])).fit(feats)
        with step("transform"):
            out = rowwise.transform(feats)
        nb = self.sizes["n_buckets"]
        base = os.path.join(work_dir, f"features-{time.monotonic_ns()}")
        writer = CheckpointedFeatureWriter(base, key_cols=("conv_id",), n_buckets=nb)
        with step("write"):
            first = writer.run(out, job_id="interrupted", fail_after_buckets=nb // 2)
        scaler = pit.stages[-1]
        return Job([out], {"labels": len(indexer.labels), "scaler": (scaler.mean, scaler.stddev),
                           "writer": writer, "runs": [first], "base": base, "n_buckets": nb})

    def trace_counts(self, inp) -> dict:
        return {}

    def finish(self, spark, inp, job, step):
        with step("resume"):
            job.state["runs"].append(job.state["writer"].run(job.outputs[0], job_id="resume"))
        job.state["stored"] = stored(job.state["base"])

    def check(self, spark, inp, job, seed):
        """Checks read the stored output back, so they test what the
        writer left, and do not recompute the job."""
        written = job.state["writer"].read(spark)
        return (self.check_pit(inp, written, seed) + self.check_encoders(inp, written, job, seed)
                + self.check_written(spark, inp, job, seed))

    def check_pit(self, inp, written, seed):
        fails = []
        n, late = written.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("ann_ts_asof") > F.col("ts"), 1)),
        ).first()
        if n != inp["rows"]:
            fails.append(f"output rows {n} != input turns {inp['rows']}")
        if late:
            fails.append(f"{late} turns joined an annotation later than the turn")
        # at least ~40 conversations even on the tests' tiny inputs
        mod = max(1, min(self.sizes["conv_sample_mod"], inp["n_convs"] // 40))
        pick = _sample(("conv_id",), seed, mod)
        micros = {"ts", "prev_ts", "ann_ts_asof"}
        cols = [F.unix_micros(c).alias(c) if c in micros else F.col(c)
                for c in ("conv_id", "turn_idx", *oracles.PIT_OUTPUT_COLS)]
        got = written.where(pick).select(*cols).toPandas()
        turns = inp["turns"].where(pick).select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.unix_micros("ts").alias("ts")).toPandas()
        ann = inp["ann"].where(pick).select(
            "conv_id", F.unix_micros("ts").alias("ts"), "label", "score").toPandas()
        return fails + oracles.check_pit(turns, ann, got)

    def check_encoders(self, inp, written, job, seed):
        from kamae_spark.operators.indexers import DEFAULT_MAX_LABELS

        turns = inp["turns"]

        def counts(c):
            return turns.groupBy(F.col(c).alias("v")).agg(F.count(F.lit(1)).alias("n")).toPandas()

        sample = written.where(_sample(("text",), seed, self.sizes["row_sample_mod"])).select(
            F.col("text").alias("label"), F.col("text_idx").alias("label_idx"),
            F.col("role").alias("cat"), F.col("role_oh").alias("cat_oh"),
            F.col("turn_idx").cast("double").alias("x"), F.col("turn_idx_std").alias("x_std"),
        ).toPandas()
        x = turns.select(F.col("turn_idx").cast("double")).toPandas().iloc[:, 0].to_numpy()
        return oracles.check_vocab(counts("text"), sample, DEFAULT_MAX_LABELS,
                                   counts("role"), x, *job.state["scaler"])

    def check_written(self, spark, inp, job, seed):
        writer, nb = job.state["writer"], job.state["n_buckets"]
        fails = oracles.check_lineage(writer.lineage(spark).toPandas(), nb)
        bucket = seed % nb
        pick = _sample(("conv_id", "turn_idx"), seed, self.sizes["row_sample_mod"])
        in_bucket = F.pmod(F.xxhash64("conv_id"), F.lit(nb)) == bucket
        written = spark.read.parquet(writer.data_path).where(F.col("_bucket") == bucket)
        n_written = written.count()
        n_expected = inp["turns"].where(in_bucket).count()
        if n_written != n_expected:
            fails.append(f"bucket {bucket}: {n_written} rows written, {n_expected} expected")
        n = self.n_chains(inp["scale"])
        keep = ["conv_id", "turn_idx", *wide.outputs(n), *wide.raw_cols(n)]
        written = written.where(pick).select(*keep).toPandas()
        rows = inp["turns"].where(in_bucket & pick).drop("ts").toPandas()
        return fails + oracles.check_wide(wide.config(n), wide.outputs(n), rows, written)


def stored(base: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files a writer left under ``base``."""
    size = files = 0
    for root, _, names in os.walk(os.path.join(base, "data")):
        for f in names:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, f))
                files += 1
    return size, files


# -- neardup --------------------------------------------------------------------


class NearDup:
    """MinHash-LSH near-duplicate pairs and IVF top-k over synthetic corpora."""

    name = "neardup"
    sizes = {"n_docs": 8_000, "dup_every": 10, "n_vecs": 16_000, "n_queries": 256,
             "num_perm": 64, "bands": 8, "threshold": 0.6, "k": 10, "n_centroids": 64,
             "nprobe": 8}

    def setup(self, spark, seed, scale=1.0):
        from kamae_spark.sources.synth import documents_table, embeddings_table

        s = self.sizes
        n_docs = max(200, int(s["n_docs"] * scale))
        n_vecs = max(2000, int(s["n_vecs"] * scale))
        docs, n_d = _cached(documents_table(spark, n_docs=n_docs, seed=seed,
                                            dup_every=s["dup_every"]))
        emb, n_e = _cached(embeddings_table(spark, n_vecs=n_vecs, dim=64, n_clusters=256,
                                            seed=seed))
        stride = n_vecs // s["n_queries"]
        queries, _ = _cached(emb.where(F.col("vec_id") % stride == seed % stride)
                             .limit(s["n_queries"]))
        return {"docs": docs, "emb": emb, "queries": queries, "rows": n_d + n_e,
                "cached": [docs, emb, queries]}

    def cold(self, spark, inp, step, work_dir):
        from kamae_spark.data import dedup, similarity

        s = self.sizes
        with step("minhash"):
            pairs = dedup.minhash_lsh_pairs(
                inp["docs"], "text", "doc_id", n=2, num_perm=s["num_perm"], bands=s["bands"],
                threshold=s["threshold"], tokenizer="word")
        fit = similarity.fit_centroids
        similarity.fit_centroids = step.wrap(fit, "similarity.fit_centroids")
        try:
            with step("ivf"):
                topk = similarity.ivf_topk(
                    inp["emb"], inp["queries"], "embedding", "vec_id", k=s["k"],
                    n_centroids=s["n_centroids"], nprobe=s["nprobe"])
        finally:
            similarity.fit_centroids = fit
        with step("action"):
            force(pairs)
            force(topk)
        return Job([pairs, topk])

    def finish(self, spark, inp, job, step):
        pass

    def trace_counts(self, inp) -> dict:
        """Candidate pairs LSH banding proposes, recounted outside the job
        (the op keeps the count to itself)."""
        from kamae_spark.data import dedup

        seen = []
        orig = dedup._bucket_pairs

        def capture(*args, **kwargs):
            seen.append(orig(*args, **kwargs))
            return seen[-1]

        dedup._bucket_pairs = capture
        try:
            s = self.sizes
            dedup.minhash_lsh_pairs(inp["docs"], "text", "doc_id", n=2,
                                    num_perm=s["num_perm"], bands=s["bands"],
                                    threshold=s["threshold"], tokenizer="word")
        finally:
            dedup._bucket_pairs = orig
        return {"candidate_pairs": seen[0].count()}

    def check(self, spark, inp, job, seed):
        import numpy as np

        s = self.sizes
        pairs = job.outputs[0].toPandas()
        docs = inp["docs"].toPandas()
        texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        # documents_table makes doc d a near-copy of d - 1 when d % dup_every == 1
        planted = [(d - 1, d) for d in texts if d % s["dup_every"] == 1 and d - 1 in texts]
        fails = oracles.check_minhash(pairs, texts, planted, s["threshold"], s["bands"],
                                      s["num_perm"] // s["bands"])
        emb = inp["emb"].toPandas()
        q = inp["queries"].toPandas()
        exact = oracles.exact_topk(
            emb["vec_id"].to_numpy(), np.stack(emb["embedding"].to_numpy()),
            q["vec_id"].to_numpy(), np.stack(q["embedding"].to_numpy()), s["k"])
        recall = oracles.recall_at_k(job.outputs[1].toPandas(), exact)
        job.state.update(recall=recall, verified=len(pairs))
        if recall < 0.9:
            fails.append(f"ivf recall@{s['k']} = {recall:.3f} < 0.9")
        return fails


WORKLOADS = {w.name: w for w in (FeatureJob(), NearDup())}


def release(inp: dict) -> None:
    for df in inp.get("cached", []):
        df.unpersist()
