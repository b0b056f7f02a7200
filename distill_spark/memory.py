"""Persistent memory store with write-time dedup — batch/Spark-native.

Reference: pkg/memory/store.go + pkg/memory/sqlite.go in
/root/reference. The reference probes EVERY new entry against ALL
stored embeddings with an early-exit linear scan
(sqlite.go:243-279 — the author's own TODO asks for an ANN index);
we replace it with the engine's batched write-time probe
(operators/probe.py) at the conflict floor. Semantics preserved:

  dup        similarity >= dup threshold -> do not insert; touch the
             existing entry (access_count++, last_referenced)
             (sqlite.go:136-148)
  conflict   conflict band: between conflict and dup thresholds ->
             insert anyway, record the conflict pair
             (sqlite.go:155-162,268-275; thresholds store.go:229-239)
  recall     filter expiry/tags -> blend similarity with recency
             (1/(1+age_h/24), sqlite.go:381-413) -> threshold -> top-k
             -> token-budget take-while (sqlite.go:439-451)
  forget     hard delete by ids/tags/age (sqlite.go:526-575)
  expire     soft delete flag + timestamp (sqlite.go:578-610)
  supersede  expire old + forward pointer (sqlite.go:613-648)
  decay      age-bucketed level transitions (decay.go:36-177)

Similarity here is caption/text shingle Jaccard (the engine's exact
text predicate); an embedding-cosine variant plugs in through
functions.vectors.

Storage: a versioned table (tableio.VersionedTable, the offline
Iceberg stand-in) HASH-PARTITIONED on
`bucket = pmod(xxhash64(id), n_buckets)`. Every mutation commits a new
copy-on-write snapshot. Dup-touch, expire, supersede, forget and decay
replace ONLY the files of the buckets holding touched rows (Iceberg
MERGE INTO); pure inserts append files without reading anything; a
mutation that touches nothing commits nothing. The conflict log is a
second versioned table, appended only when a batch has conflicts.
recall() is a distributed TakeOrdered top-k, never a single-task
global sort. Every DataFrame surfaced in a result or written to a log
is materialized BEFORE the store mutates, so cache eviction can never
re-derive a result from post-mutation state (round-2 ADVICE: lazy plans
over a swapped path produced phantom self-match pairs)."""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig
from .operators.signatures import with_signatures
from .operators import onetask
from .operators.probe import greedy_accept, probe_edges
from .operators.verify import jaccard_col
from .tableio import auto_vacuum, open_table
from .functions.scoring import recency_score, decay_level
from .functions.sensitivity import sensitivity_level
from .functions.text import token_estimate

MEMORY_SCHEMA = (
    "id string, text string, tags array<string>, source string, "
    "session string, created_at timestamp, last_referenced timestamp, "
    "access_count long, expired boolean, expires_at timestamp, "
    "superseded_by string, sensitivity long, decay_level long, "
    # signatures are PERSISTED WITH THE ROW at write time (round-2 scale
    # hygiene): recall()/store_batch() read them instead of recomputing
    # MinHash/shingles for the whole store on every operation
    "shingles array<bigint>, minhash array<bigint>"
)
CONFLICT_SCHEMA = (
    "new_id string, existing_id string, jaccard double, detected_at timestamp"
)


@dataclass
class StoreResult:
    stored: DataFrame     # rows actually inserted
    duplicates: DataFrame # (new_id, existing_id, jaccard)
    conflicts: DataFrame  # (new_id, existing_id, jaccard)


class MemoryStore:
    def __init__(self, spark: SparkSession, path: str, cfg: DedupConfig | None = None,
                 dup_jaccard: float = 0.85, conflict_jaccard: float = 0.5,
                 n_buckets: int = 16, embedding_provider=None,
                 vacuum_keep: int | None = 8):
        """embedding_provider (embedding.EmbeddingProvider, optional):
        when set, every stored row also persists an `embedding` column
        computed by the provider, and recall() scores similarity as
        embedding cosine instead of shingle Jaccard/containment — the
        reference's store similarity IS embedding cosine
        (store.go:229-239); without a provider the shingle predicate is
        the network-free stand-in. Write-time dedup stays on the exact
        shingle channel either way (its thresholds are calibrated
        there).

        Rows live in a copy-on-write versioned table
        (tableio.VersionedTable): each mutation commits a new SNAPSHOT,
        so a frame handed out earlier (snapshot(), recall(), stats(),
        StoreResult.stored) keeps reading the version it was planned on.
        A store directory written by the older dir-overwrite layout is
        migrated as version 1 on open (tableio.open_table).

        vacuum_keep: auto-vacuum after each commit, retaining the newest
        N versions — without it every mutation's snapshot accumulates
        forever, O(commits x table size) disk (round-5 advice #2). A
        frame handed out survives `vacuum_keep - 1` further commits;
        after that its action fails (file gone) rather than returning
        other rows. None disables (call vacuum() manually)."""
        self.spark, self.path = spark, path
        # persisted-signature stores pin FULL 64-bit minhash lanes:
        # their sig columns are written as array<bigint> and must stay
        # band-joinable with rows persisted before the 32-bit default
        from dataclasses import replace as _replace
        self.cfg = _replace(cfg or DedupConfig(), minhash_lane_bits=64)
        self.dup_jaccard, self.conflict_jaccard = dup_jaccard, conflict_jaccard
        self.n_buckets = n_buckets
        self.embedding_provider = embedding_provider
        self.vacuum_keep = vacuum_keep
        self._table = open_table(
            spark, self._data_path(), partition_by="bucket",
            stats_col="id",  # file-level id ranges in the manifest:
            # merge()/point lookups can skip key-disjoint files
            legacy_rows=self._legacy_rows,
        )
        self._conflicts = open_table(spark, os.path.join(path, "conflicts"))
        # lifecycle event handlers (reference OnLifecycleEvent,
        # sqlite.go:724-736): called synchronously, registration order
        self._handlers: list = []

    # bound on the id list any single lifecycle event carries: events
    # whose subjects come from a DataFrame (store/decay) emit count +
    # a bounded sample, never an unbounded driver-side collect — a
    # 10^9-row ingest with a handler attached must not OOM the driver
    EVENT_IDS_MAX = 10_000

    def on_lifecycle_event(self, handler) -> None:
        """Register a handler(event: dict). Events: {"type", "ids",
        "count", ...}. For batch-derived events (store/decay) `ids` is
        a sample capped at EVENT_IDS_MAX (`ids_truncated`=True when the
        batch was larger; `count` is always exact) — reference analog
        OnLifecycleEvent (/root/reference/pkg/memory/sqlite.go:724-736)
        passes full id lists, which does not survive 10^9-row batches."""
        self._handlers.append(handler)

    def _emit(self, event_type: str, ids: list[str], detail: dict | None = None) -> None:
        ev = {"type": event_type, "ids": ids, "count": len(ids),
              **(detail or {})}
        for h in self._handlers:
            h(ev)

    def _emit_df(self, event_type: str, id_df: DataFrame,
                 detail: dict | None = None) -> None:
        """Emit an event whose subject ids live in a DataFrame: exact
        count, driver-side ids bounded at EVENT_IDS_MAX."""
        n = id_df.count()
        sample = [r[0] for r in id_df.limit(self.EVENT_IDS_MAX).collect()]
        ev = {"type": event_type, "ids": sample, "count": n,
              "ids_truncated": n > len(sample), **(detail or {})}
        for h in self._handlers:
            h(ev)

    # ------------------------------------------------------------- storage
    def _data_path(self) -> str:
        return os.path.join(self.path, "memories")

    def _legacy_rows(self, df: DataFrame) -> DataFrame:
        """Rows of a dir-layout store, migrated once on open: derive the
        signatures very old rows lack, and the bucket a flat layout lacks."""
        if "minhash" not in df.columns:
            sigs = with_signatures(df.select("id", "text"), "text", "id",
                                   self.cfg, parts=("shingles", "minhash"))
            df = df.join(sigs, "id", "left")
        if "bucket" not in df.columns:
            df = df.withColumn("bucket", self._bucket_expr())
        return df

    def _bucket_expr(self) -> F.Column:
        return F.pmod(F.xxhash64(F.col("id")), F.lit(self.n_buckets)).cast("int")

    def _buckets_of(self, ids) -> list[int]:
        """Bucket set of a (small) Python id list, via a driver-side
        XXH64 that is bit-identical to the JVM `xxhash64` used by the
        partitioning expression (pinned in tests) — no Spark job per
        expire/supersede/dup-touch call."""
        from .functions.hashing import xxhash64_py

        return sorted({xxhash64_py(i) % self.n_buckets for i in set(ids)})

    def conflicts(self) -> DataFrame:
        """Persisted conflict-pair log (reference keeps conflicts in the
        store result with NewID backfilled, sqlite.go:209-213; we also
        persist them so conflict review survives the session)."""
        return self._conflicts.read(schema=CONFLICT_SCHEMA)

    def _schema(self) -> str:
        if self.embedding_provider is not None:
            return MEMORY_SCHEMA + ", embedding array<float>"
        return MEMORY_SCHEMA

    def _raw(self) -> DataFrame:
        """Store rows WITH the bucket partition column (internal)."""
        df = self._table.read(schema=self._schema() + ", bucket int")
        # a provider enabled on a store written without one: rows read
        # the column as null until appends bring it into the schema
        if self.embedding_provider is not None and "embedding" not in df.columns:
            df = df.withColumn("embedding", F.lit(None).cast("array<float>"))
        return df

    def snapshot(self) -> DataFrame:
        return self._raw().drop("bucket")

    def _append(self, df: DataFrame) -> None:
        """Append new rows (no bucket column yet); nothing read or rewritten."""
        self._table.append(df.withColumn("bucket", self._bucket_expr()))
        auto_vacuum(self._table, self.vacuum_keep)

    def _replace_buckets(self, df: DataFrame, buckets: list[int]) -> None:
        """Replace only the given buckets' files with df's rows (df = the
        full new content of those buckets, bucket column included)."""
        self._table.replace_partitions(df, buckets)
        auto_vacuum(self._table, self.vacuum_keep)

    # --------------------------------------------------------------- store
    def store_batch(self, entries: DataFrame, now: F.Column | None = None) -> StoreResult:
        """entries(id, text, tags?, source?, session?, expires_at?).

        Write-time dedup: entries whose text is a near-dup (jaccard >=
        dup threshold) of a live stored entry OR of an earlier-accepted
        entry of the SAME batch are NOT inserted; the matched entry is
        touched (stored matches only). The intra-batch pass mirrors the
        reference's per-row probe order (sqlite.go:243-279: earlier rows
        of a batch are already stored when later rows check) with id
        order as the deterministic stand-in for arrival order; a stored
        match takes precedence (`duplicates` lists all of a row's stored
        matches, else the one batch row it matched). It is one write-time
        probe (operators/probe.py), whose edge list is collected BEFORE
        the store mutates, so the returned result never depends on a
        lazy plan over post-mutation state.

        I/O: pure inserts APPEND files (nothing read or rewritten);
        dup-touch updates rewrite only the bucket partitions holding the
        touched rows (Iceberg MERGE INTO on clusters)."""
        now = now if now is not None else F.current_timestamp()
        existing = self._raw()
        live = existing.filter(
            (~F.col("expired"))
            & (F.col("expires_at").isNull() | (F.col("expires_at") > now))
        )

        sig_new, counts = onetask.observed(with_signatures(
            entries.select("id", "text"), "text", "id", self.cfg,
            parts=("shingles", "minhash")), self.cfg)
        # materialize the edges NOW (store path not yet mutated): one
        # probe at the conflict floor serves dups and conflicts; the
        # table's row count bounds the live rows
        edges = probe_edges(sig_new, live, self.cfg, self.conflict_jaccard,
                            "store_batch dup/conflict edges", counts["rows"],
                            self._table.row_count())
        dup_edges = [e for e in edges if e.jaccard >= self.dup_jaccard]
        conflict_rows = [e for e in edges if e.old and e.jaccard < self.dup_jaccard]
        rejected = greedy_accept(dup_edges)
        vs_stored = {e.n for e in dup_edges if e.old}
        dup_rows = [e for e in dup_edges
                    if e.old or (e.n not in vs_stored and rejected.get(e.n) == e.o)]

        if not rejected:
            to_insert = entries
        elif len(rejected) <= 1000:
            to_insert = entries.filter(~F.col("id").isin(list(rejected)))
        else:
            rej_df = self.spark.createDataFrame(
                [(i,) for i in rejected], "id string"
            )
            to_insert = entries.join(rej_df, "id", "left_anti")

        for col, default in [
            ("tags", F.array().cast("array<string>")),
            ("source", F.lit(None).cast("string")),
            ("session", F.lit(None).cast("string")),
            ("expires_at", F.lit(None).cast("timestamp")),
        ]:
            if col not in to_insert.columns:
                to_insert = to_insert.withColumn(col, default)
        inserted = to_insert.select(
            "id", "text", "tags", "source", "session",
            now.alias("created_at"), now.alias("last_referenced"),
            F.lit(0).cast("long").alias("access_count"),
            F.lit(False).alias("expired"),
            "expires_at",
            F.lit(None).cast("string").alias("superseded_by"),
            sensitivity_level("text").cast("long").alias("sensitivity"),
            F.lit(0).cast("long").alias("decay_level"),
        ).join(sig_new.select("id", "shingles", "minhash"), "id", "left")
        if self.embedding_provider is not None:
            from .embedding import with_embeddings

            inserted = with_embeddings(inserted, self.embedding_provider,
                                       text_col="text", out_col="embedding")

        # persist the conflict log BEFORE mutating the store (new_id is
        # already attached — the reference's post-insert NewID backfill,
        # sqlite.go:209-213); built from the collected rows, so replaying
        # the plan can never read post-mutation state
        conf_local = self.spark.createDataFrame(
            [(e.n, e.o, float(e.jaccard)) for e in conflict_rows],
            "new_id string, existing_id string, jaccard double",
        ).withColumn("detected_at", now)
        if conflict_rows:
            self._conflicts.append(conf_local)
            auto_vacuum(self._conflicts, self.vacuum_keep)

        touched_ids = sorted({e.o for e in dup_rows if e.old})
        if touched_ids:
            # dup-touch: rewrite ONLY the buckets holding touched rows
            buckets = self._buckets_of(touched_ids)
            touched_df = self.spark.createDataFrame(
                [(i,) for i in touched_ids], "id string"
            ).withColumn("_hit", F.lit(1))
            sub = existing.filter(F.col("bucket").isin(buckets))
            updated = (
                sub.join(touched_df, "id", "left")
                .withColumn("access_count",
                            F.when(F.col("_hit").isNotNull(), F.col("access_count") + 1)
                            .otherwise(F.col("access_count")))
                .withColumn("last_referenced",
                            F.when(F.col("_hit").isNotNull(), now)
                            .otherwise(F.col("last_referenced")))
                .drop("_hit")
            )
            self._replace_buckets(updated, buckets)
        # inserts always APPEND (new bucket-partitioned files).
        # With handlers attached the plan is executed again for the
        # store event (count + bounded id sample) — persist around the
        # append+emit so an attached embedding_provider computes
        # embeddings ONCE, not once per action (round-5 advice).
        if self._handlers:
            inserted = inserted.persist()
        self._append(inserted)

        dup_local = self.spark.createDataFrame(
            [(e.n, e.o, float(e.jaccard)) for e in dup_rows],
            "new_id string, existing_id string, jaccard double",
        )
        if self._handlers:
            self._emit_df("store", inserted.select("id"))
            self._emit("duplicate", sorted(rejected))
            inserted.unpersist()
        result = StoreResult(
            stored=inserted,
            duplicates=dup_local,
            conflicts=conf_local.select("new_id", "existing_id", "jaccard"),
        )
        return result

    # -------------------------------------------------------------- recall
    def recall(self, query: str, k: int = 8, min_relevance: float = 0.0,
               tags: list[str] | None = None, token_budget: int | None = None,
               recency_weight: float = 0.3, now: F.Column | None = None) -> DataFrame:
        """-> (id, text, relevance) top-k by blended relevance.

        Scale shape: the top-k is `orderBy(...).limit(k)`, which Spark
        executes as distributed TakeOrdered (per-partition heaps + a
        k-row merge on the driver) — NOT a rank window, which would
        funnel every surviving row through one task's sort. The
        token-budget take-while window then runs over at most k rows."""
        from pyspark.sql import Window

        now = now if now is not None else F.current_timestamp()
        cfg = self.cfg
        mem = self.snapshot().filter(
            (~F.col("expired"))
            & (F.col("expires_at").isNull() | (F.col("expires_at") > now))
        )
        if tags:
            mem = mem.filter(F.arrays_overlap(F.col("tags"), F.array(*[F.lit(t) for t in tags])))

        # stored signatures are read off the row (persisted at write time)
        # — recall() computes a signature only for the 1-row query
        qdf = self.spark.createDataFrame([("q", query)], "id string, text string")
        qsh = with_signatures(qdf, "text", "id", cfg, parts=("shingles",)) \
            .select(F.col("shingles").alias("qsh"))
        # similarity = max(symmetric Jaccard, query containment |q∩d|/|q|):
        # a 5-token query against a 200-token doc has tiny Jaccard even on
        # a perfect hit; containment matches the reference's recall intent
        # (query terms found in the memory)
        containment = F.when(
            F.size("qsh") > 0,
            F.size(F.array_intersect(F.col("shingles"), F.col("qsh"))) / F.size("qsh"),
        ).otherwise(F.lit(0.0))
        if self.embedding_provider is not None:
            # embedding similarity backend (the reference's store metric,
            # store.go:229-239): cosine vs the 1-row query embedding,
            # evaluated as a JVM expression against a literal vector
            from .functions.vectors import cosine_similarity

            qvec = self.embedding_provider.embed(query)
            qlit = F.array(*[F.lit(float(x)) for x in qvec]).cast("array<float>")
            sim_expr = F.when(
                F.col("embedding").isNotNull(),
                cosine_similarity(F.col("embedding"), qlit),
            ).otherwise(F.lit(0.0))
        else:
            sim_expr = F.greatest(
                jaccard_col(F.col("shingles"), F.col("qsh")), containment
            )
        scored = (
            mem.withColumn(
                "shingles",
                F.coalesce(F.col("shingles"), F.array().cast("array<bigint>")),
            )
            .crossJoin(F.broadcast(qsh))
            .withColumn("sim", sim_expr)
            .withColumn("recency", recency_score("last_referenced", now))
            .withColumn(
                "relevance",
                F.least((1 - recency_weight) * F.col("sim")
                        + recency_weight * F.col("recency"), F.lit(1.0)),
            )
            .filter(F.col("relevance") >= min_relevance)
        )
        out = (
            scored.select("id", "text", "relevance")
            .orderBy(F.desc("relevance"), F.asc("id"))
            .limit(k)
        )
        if token_budget is not None:
            cum = Window.orderBy(F.desc("relevance"), F.asc("id")).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            out = out.withColumn("cum_tokens", F.sum(token_estimate("text")).over(cum)) \
                     .filter(F.col("cum_tokens") <= token_budget)
        return out.select("id", "text", F.round("relevance", 6).alias("relevance"))

    # ----------------------------------------------------------- lifecycle
    def forget(self, ids: list[str] | None = None, tags: list[str] | None = None) -> int:
        """Hard delete. Rewrites only the bucket partitions holding
        removed rows; a forget that matches nothing touches no files."""
        mem = self._raw()
        cond = F.lit(False)
        if ids:
            cond = cond | F.col("id").isin(ids)
        if tags:
            cond = cond | F.arrays_overlap(F.col("tags"), F.array(*[F.lit(t) for t in tags]))
        removed = mem.filter(cond)
        # per-bucket removal counts: <= n_buckets rows to the driver
        per_bucket = removed.groupBy("bucket").count().collect()
        buckets = sorted(r["bucket"] for r in per_bucket)
        n_removed = int(sum(r["count"] for r in per_bucket))
        if buckets:
            kept = mem.filter(F.col("bucket").isin(buckets)).filter(~cond)
            self._replace_buckets(kept, buckets)
        self._emit("forget", ids or [], {"tags": tags or [], "removed": n_removed})
        return n_removed

    def expire(self, ids: list[str], now: F.Column | None = None) -> None:
        now = now if now is not None else F.current_timestamp()
        buckets = self._buckets_of(ids)
        if not buckets:
            return
        sub = self._raw().filter(F.col("bucket").isin(buckets))
        self._replace_buckets(
            sub.withColumn(
                "expired",
                F.when(F.col("id").isin(ids), F.lit(True)).otherwise(F.col("expired")),
            ).withColumn(
                "expires_at",
                F.when(F.col("id").isin(ids), now).otherwise(F.col("expires_at")),
            ),
            buckets,
        )
        self._emit("expire", ids)

    def supersede(self, old_id: str, new_id: str, now: F.Column | None = None) -> None:
        now = now if now is not None else F.current_timestamp()
        buckets = self._buckets_of([old_id])
        sub = self._raw().filter(F.col("bucket").isin(buckets))
        self._replace_buckets(
            sub.withColumn(
                "expired",
                F.when(F.col("id") == old_id, F.lit(True)).otherwise(F.col("expired")),
            ).withColumn(
                "superseded_by",
                F.when(F.col("id") == old_id, F.lit(new_id)).otherwise(F.col("superseded_by")),
            ).withColumn(
                "expires_at",
                F.when(F.col("id") == old_id, now).otherwise(F.col("expires_at")),
            ),
            buckets,
        )
        self._emit("supersede", [old_id], {"new_id": new_id})

    def run_decay(self, now: F.Column | None = None,
                  summary_h: float = 24.0, keywords_h: float = 168.0,
                  evict_h: float = 720.0) -> DataFrame:
        """Age-bucketed decay transitions; evict-age rows are dropped.
        Returns the lifecycle-event rows (id, old_level, new_level).
        Rewrites only buckets holding level-changed rows; events are
        materialized (localCheckpoint) before the store mutates."""
        now = now if now is not None else F.current_timestamp()
        mem = self._raw()
        lev = decay_level("created_at", now, summary_h, keywords_h, evict_h)
        changed = mem.withColumn("new_level", lev.cast("long"))
        delta = changed.filter(F.col("new_level") != F.col("decay_level"))
        # materialize BEFORE the rewrite: the returned events and the
        # touched-bucket list must not be lazily re-derived from the
        # mutated path (localCheckpoint truncates the lineage; on a real
        # cluster prefer reliable checkpoint / collect — events are
        # output-bound)
        events = delta.select(
            "id", "bucket", F.col("decay_level").alias("old_level"), "new_level"
        ).localCheckpoint(eager=True)
        buckets = sorted(r["bucket"] for r in events.select("bucket").distinct().collect())
        if buckets:
            kept = (
                changed.filter(F.col("bucket").isin(buckets))
                .filter(F.col("new_level") < 3)
                .withColumn("decay_level", F.col("new_level"))
                .drop("new_level")
            )
            self._replace_buckets(kept, buckets)
        if self._handlers:
            self._emit_df("decay", events.select("id"))
        return events.drop("bucket")

    def stats(self) -> DataFrame:
        """COUNT(*), expired count, per-level counts, min/max created
        (reference Stats, sqlite.go:653-722)."""
        mem = self.snapshot()
        return mem.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.col("expired").cast("long")).alias("expired"),
            F.min("created_at").alias("oldest"),
            F.max("created_at").alias("newest"),
            F.sum((F.col("decay_level") == 0).cast("long")).alias("level0"),
            F.sum((F.col("decay_level") == 1).cast("long")).alias("level1"),
            F.sum((F.col("decay_level") == 2).cast("long")).alias("level2"),
        )
