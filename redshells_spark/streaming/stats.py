"""Streaming corpus statistics: mergeable sketches as micro-batch state.

The monitoring half of a streaming ingest pipeline: per micro-batch,
fold the new documents into persistent **mergeable** summaries —

- a KMV distinct sketch per group (`operators/sketches.py` hashing):
  state is the k smallest distinct 60-bit hashes per group; merging a
  batch is union → rank → keep-k, and the estimate formula is the same
  as batch KMV, so a stream that saw the same documents as a batch job
  reports the *same* estimate (batch-parity, tested);
- a Misra-Gries heavy-hitters summary per group
  (`operators/heavy_hitters.py` semantics): state is ≤ capacity
  (group, token, count) rows; merging adds the batch's exact counts
  and applies the same over-capacity decrement. The merged summary
  obeys the standard MG undercount bound over the full stream, so
  `top_k_frequent`-style recounts can certify against it.

State lives in parquet like `streaming/ingest.py` (restart-safe; same
idempotency caveat re: foreachBatch retries). All per-batch work is
DataFrame ops; the MG decrement math runs on the ≤ capacity-row summary
driver-side — bounded by construction, not by data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redshells_spark.operators.bloom import _h60_sql


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    try:
        return spark.read.parquet(path)
    except Exception:  # noqa: BLE001 — first batch: state doesn't exist yet
        return spark.createDataFrame([], schema)


@dataclass
class StreamingStats:
    """foreachBatch processor maintaining KMV + MG state under ``root``."""

    root: str
    group_column: str = "source"
    value_column: str = "text"
    token_column: str | None = None  # explode this array column for MG
    kmv_k: int = 256
    mg_capacity: int = 1024

    def _p(self, name: str) -> str:
        return f"{self.root}/{name}"

    # ---------------------------------------------------------- KMV

    def _merge_kmv(self, batch: DataFrame) -> None:
        spark = batch.sparkSession
        g, v = self.group_column, self.value_column
        schema = f"{g} string, __h long"
        new_hashes = batch.select(
            F.col(g).cast("string").alias(g),
            F.expr(_h60_sql(f"`{v}`")).alias("__h"),
        )
        merged = (
            _read_or_empty(spark, self._p("kmv"), schema)
            .unionByName(new_hashes)
            .dropDuplicates([g, "__h"])
        )
        w = Window.partitionBy(g).orderBy(F.col("__h").asc())
        kept = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.kmv_k)
            .drop("__rn")
        )
        # rewrite state: ≤ k rows per group. overwrite-then-read needs a
        # staging write because the read path is also the write path
        kept.write.mode("overwrite").parquet(self._p("kmv_next"))
        spark.read.parquet(self._p("kmv_next")).write.mode("overwrite").parquet(self._p("kmv"))

    def kmv_estimates(self, spark: SparkSession) -> DataFrame:
        """(group, n_hashes, kmv_estimate) from the persisted sketch —
        identical formula to `operators/sketches.py:kmv_distinct`."""
        g = self.group_column
        state = _read_or_empty(spark, self._p("kmv"), f"{g} string, __h long")
        agg = state.groupBy(g).agg(
            F.count(F.lit(1)).alias("n_hashes"), F.max("__h").alias("__hk")
        )
        est = F.when(
            F.col("n_hashes") < self.kmv_k, F.col("n_hashes").cast("double")
        ).otherwise(
            F.lit(float(self.kmv_k - 1)) * F.lit(float(1 << 60)) / F.col("__hk").cast("double")
        )
        return agg.select(g, F.col("n_hashes").cast("long").alias("n_hashes"), est.alias("kmv_estimate"))

    # ----------------------------------------------------------- MG

    def _merge_mg(self, batch: DataFrame) -> None:
        from redshells_spark.operators.heavy_hitters import _mg_merge

        spark = batch.sparkSession
        g = self.group_column
        tok = self.token_column
        if tok is None:
            return
        schema = f"{g} string, token string, cnt long"
        batch_counts = (
            batch.select(F.col(g).cast("string").alias(g), F.explode(tok).alias("token"))
            .groupBy(g, "token")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        state = _read_or_empty(spark, self._p("mg"), schema)
        # merge per group driver-side: both sides are bounded —
        # state ≤ capacity rows/group, batch counts get pre-cut to the
        # top 2·capacity (anything below can't survive the decrement)
        wb = Window.partitionBy(g).orderBy(F.col("cnt").desc(), F.col("token").asc())
        batch_cut = (
            batch_counts.withColumn("__rn", F.row_number().over(wb))
            .filter(F.col("__rn") <= 2 * self.mg_capacity)
            .drop("__rn")
        )
        by_group: dict[str, dict[str, int]] = {}
        for r in state.collect():
            by_group.setdefault(r[g], {})[r["token"]] = r["cnt"]
        adds: dict[str, dict[str, int]] = {}
        for r in batch_cut.collect():
            adds.setdefault(r[g], {})[r["token"]] = r["cnt"]
        rows = []
        for grp in set(by_group) | set(adds):
            merged, _ = _mg_merge(dict(by_group.get(grp, {})), adds.get(grp, {}), self.mg_capacity)
            rows += [(grp, t, int(c)) for t, c in merged.items()]
        out = spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)
        out.write.mode("overwrite").parquet(self._p("mg_next"))
        spark.read.parquet(self._p("mg_next")).write.mode("overwrite").parquet(self._p("mg"))

    def heavy_hitters(self, spark: SparkSession, k: int = 20) -> DataFrame:
        """(group, token, cnt_lower) — MG lower-bound counts from state."""
        g = self.group_column
        state = _read_or_empty(spark, self._p("mg"), f"{g} string, token string, cnt long")
        w = Window.partitionBy(g).orderBy(F.col("cnt").desc(), F.col("token").asc())
        return (
            state.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select(g, "token", F.col("cnt").alias("cnt_lower"))
        )

    # ------------------------------------------------------- driver

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        self._merge_kmv(batch_df)
        self._merge_mg(batch_df)


def run_streaming_stats(stream: DataFrame, stats: StreamingStats, query_name: str):
    """Attach to a readStream source; availableNow-style callers drive
    it exactly like `streaming/ingest.py:run_corpus_ingest`."""
    return (
        stream.writeStream.foreachBatch(stats.process_batch)
        .queryName(query_name)
        .option("checkpointLocation", f"{stats.root}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


@dataclass
class StreamingCms:
    """foreachBatch processor maintaining a Count-Min frequency sketch
    (``operators/sketches.py:cms_build``) as persistent state: CMS is
    LINEAR, so folding a micro-batch is build-the-batch-sketch +
    cell-wise sum with the persisted table — the merged state equals
    the sketch of everything ever seen (exact batch parity, tested),
    and state size is a constant depth × width cells forever."""

    root: str
    key_column: str = "user_id"
    depth: int = 4
    width: int = 512

    def _path(self) -> str:
        return f"{self.root}/cms"

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from redshells_spark.operators.sketches import cms_build, cms_merge

        spark = batch_df.sparkSession
        batch_sketch = cms_build(
            batch_df, self.key_column, depth=self.depth, width=self.width
        )
        state = _read_or_empty(spark, self._path(), "row int, bucket long, c long")
        merged = cms_merge(state, batch_sketch).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(self._path())

    def lookup(self, spark: SparkSession, keys: DataFrame) -> DataFrame:
        from redshells_spark.operators.sketches import cms_lookup

        state = _read_or_empty(spark, self._path(), "row int, bucket long, c long")
        return cms_lookup(state, keys, self.key_column, self.depth, self.width)


@dataclass
class StreamingHll:
    """foreachBatch processor maintaining portable HyperLogLog
    registers (``operators/sketches.py:hll_registers``) as persistent
    state: HLL union is register-wise MAX, so folding a micro-batch is
    build-the-batch-registers + max-merge with the persisted table —
    the merged state equals the registers of everything ever seen
    (exact batch parity, tested), and state is ≤ m rows per group
    forever."""

    root: str
    group_column: str = "event_type"
    key_column: str = "user_id"
    p: int = 8

    def _path(self) -> str:
        return f"{self.root}/hll"

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from redshells_spark.operators.sketches import hll_merge, hll_registers

        spark = batch_df.sparkSession
        g = self.group_column
        batch_regs = hll_registers(batch_df, [g], self.key_column, p=self.p)
        state = _read_or_empty(spark, self._path(), f"{g} string, reg long, m_j long")
        merged = hll_merge(
            state.unionByName(batch_regs.withColumn(g, F.col(g).cast("string"))),
            [g],
        ).localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(self._path())

    def estimates(self, spark: SparkSession) -> DataFrame:
        from redshells_spark.operators.sketches import hll_estimate

        g = self.group_column
        state = _read_or_empty(spark, self._path(), f"{g} string, reg long, m_j long")
        return hll_estimate(state, [g], p=self.p)


@dataclass
class StreamingPsi:
    """foreachBatch processor maintaining PSI drift state
    (``operators/drift.py:psi_bucket_counts``): per-bucket counts fold
    ADDITIVELY across micro-batches — the same mergeable-state shape as
    the streaming KS monitor — so the PSI derived from state equals the
    batch PSI over everything ever seen (parity, tested). State is
    ≤ max_bits rows per group forever."""

    root: str
    value_column: str = "value"
    flag_column: str = "is_early"
    group_column: str = "event_type"
    scale: int = 100
    max_bits: int = 24

    def _path(self) -> str:
        return f"{self.root}/psi"

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from redshells_spark.operators.drift import psi_bucket_counts

        spark = batch_df.sparkSession
        g = self.group_column
        batch_counts = psi_bucket_counts(
            batch_df, self.value_column, self.flag_column, [g],
            scale=self.scale, max_bits=self.max_bits,
        ).withColumn(g, F.col(g).cast("string"))
        state = _read_or_empty(
            spark, self._path(), f"{g} string, bucket long, c1 long, c2 long"
        )
        merged = (
            state.unionByName(batch_counts)
            .groupBy(g, "bucket")
            .agg(
                F.sum("c1").cast("long").alias("c1"),
                F.sum("c2").cast("long").alias("c2"),
            )
            .localCheckpoint(eager=True)
        )
        merged.write.mode("overwrite").parquet(self._path())

    def psi(self, spark: SparkSession) -> DataFrame:
        from redshells_spark.operators.drift import psi_from_bucket_counts

        g = self.group_column
        state = _read_or_empty(
            spark, self._path(), f"{g} string, bucket long, c1 long, c2 long"
        )
        return psi_from_bucket_counts(state, [g])


@dataclass
class StreamingDigest:
    """foreachBatch processor maintaining the Merkle-style corpus
    digest (``data/integrity.py:corpus_digest``) as persistent state:
    all three folds are commutative monoids (count/sum add, XOR
    xors), so folding a micro-batch is digest-the-batch + per-bucket
    combine — the state equals the digest of everything ever seen
    (exact batch parity, tested), giving a streaming ingest a rolling
    snapshot-equality certificate at ≤ n_buckets rows forever."""

    root: str
    content_columns: tuple = ("doc_id", "text")
    n_buckets: int = 32

    def _path(self) -> str:
        return f"{self.root}/digest"

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from redshells_spark.data.integrity import SUM_MOD, corpus_digest

        spark = batch_df.sparkSession
        batch = corpus_digest(
            batch_df, list(self.content_columns), self.n_buckets
        ).filter(F.col("bucket") >= 0)
        state = _read_or_empty(
            spark, self._path(), "bucket long, n_rows long, xor_digest long, sum_digest long"
        )
        merged = (
            state.unionByName(batch)
            .groupBy("bucket")
            .agg(
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.expr("bit_xor(xor_digest)").cast("long").alias("xor_digest"),
                F.sum("sum_digest").cast("long").alias("sum_digest"),
            )
            .localCheckpoint(eager=True)
        )
        merged.write.mode("overwrite").parquet(self._path())

    def digest(self, spark: SparkSession) -> DataFrame:
        """Per-bucket digest rows + the global fold (bucket = -1),
        matching :func:`corpus_digest`'s output shape."""
        state = _read_or_empty(
            spark, self._path(), "bucket long, n_rows long, xor_digest long, sum_digest long"
        )
        total = state.agg(
            F.lit(-1).cast("long").alias("bucket"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.expr("bit_xor(xor_digest)").cast("long").alias("xor_digest"),
            F.sum("sum_digest").cast("long").alias("sum_digest"),
        )
        return state.unionByName(total)
