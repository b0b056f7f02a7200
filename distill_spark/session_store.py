"""Session context store: push-dedup, token-budget enforcement with
progressive per-entry level escalation, eviction, and the context
window — the reference's session subsystem re-expressed for Spark.

Reference: /root/reference/pkg/session/sqlite.go
  schema (seq, content_hash, compression_level, importance,
  inserted_at_push, ...)            :64-103
  Push: per-entry dedup probe vs stored entries, seq assignment,
  over-budget rejection             :151-266
  isDuplicate: O(n) linear probe (author's TODO asks for an index)
                                    :441-481
  enforceBudget: candidates = oldest non-recent, sorted importance ASC,
  each escalated ONE level per pass (summary -> sentence -> keywords ->
  evict/delete), passes loop until within budget or no progress
                                    :484-581
  evictOldest fallback when everything is "recent"   :584-600
  compressToLevel: 1 = extractive keep ~20% (MinChunkLength 20),
  2 = first sentence else 50-char word-boundary cut + '...',
  3 = keyword line (len>=4, stopword list, <=15, ', ' join)
                                    :603-660
  estimateTokens = (len+3)/4        :740-742
  content_hash = FNV-1a 64          :692-705

Spark shape: entries persist as a versioned table
(tableio.VersionedTable; Iceberg on clusters), one copy-on-write
snapshot per push or delete. The dedup probe is the engine's write-time
probe (operators/probe.py) of the incoming batch against the session's
PERSISTED signatures and itself, replacing the reference's linear scan.
Budget
enforcement is sequential BY DESIGN (the reference escalates one entry
at a time and re-checks the running total), and a session is small
(reference TODO: <1K entries) — so it runs per-session inside ONE
Arrow batch via applyInPandas, which is exactly how it scales to
millions of sessions on a cluster: one group per session, all sessions
in parallel, no driver loop over sessions.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig
from .operators import onetask
from .operators.probe import greedy_accept, guarded_collect, probe_edges
from .operators.signatures import with_signatures
from .tableio import auto_vacuum, open_table

ENTRY_SCHEMA = (
    "id string, session_id string, role string, content string, "
    "original_content string, source string, importance double, "
    "compression_level int, tokens long, seq long, inserted_at_push long, "
    "stable_since_turn long, content_hash string, created_at timestamp, "
    "shingles array<bigint>, minhash array<bigint>"
)

# cache-boundary policy (reference cache_boundary.go:39-47)
MIN_STABLE_TURNS = 2
MIN_PREFIX_TOKENS = 1024
MAX_BOUNDARY_MARKERS = 4

_STOPWORDS = {
    "that", "this", "with", "from", "have", "been", "were", "they",
    "their", "which", "would", "there", "about", "could", "other", "into",
    "more", "some", "than", "them", "very", "when", "what", "your",
    "also", "each", "does", "will", "just", "should", "because", "these",
}


def est_tokens(text: str) -> int:
    """(len + 3) / 4 — sqlite.go:740-742 (bytes there, chars here)."""
    return (len(text or "") + 3) // 4


def content_hash(text: str) -> str:
    """FNV-1a 64 hex — sqlite.go:692-705."""
    v = 14695981039346656037
    for b in (text or "").encode("utf-8"):
        v = ((v ^ b) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return f"{v:016x}"


def _first_sentence(text: str) -> str:
    for i, ch in enumerate(text):
        if ch in ".!?":
            return text[: i + 1]
    if len(text) > 50:
        cut = 50
        while cut > 0 and text[cut] != " ":
            cut -= 1
        if cut == 0:
            cut = 50
        return text[:cut].strip() + "..."
    return text


def _keywords(text: str) -> str:
    seen: list[str] = []
    have = set()
    for w in (text or "").split():
        lower = w.lower().strip(".,;:!?\"'()[]{}")
        if not lower or len(lower) < 4 or lower in _STOPWORDS or lower in have:
            continue
        have.add(lower)
        seen.append(lower)
        if len(seen) >= 15:
            break
    return ", ".join(seen)


def _extractive_20pct(text: str) -> str:
    """Level 1: extractive compressor, TargetReduction 0.2,
    MinChunkLength 20 (sqlite.go:605-615)."""
    from .functions.compress import extractive_compress_batch

    pdf = pd.DataFrame({"t": [text]})
    out = next(
        extractive_compress_batch(iter([pdf]), "t", "o", target_ratio=0.2, min_len=20)
    )
    res = out["o"].iloc[0]
    return res if res else text


def compress_to_level(text: str, level: int) -> str:
    if level == 1:
        return _extractive_20pct(text)
    if level == 2:
        return _first_sentence(text)
    if level == 3:
        return _keywords(text)
    return text


@dataclass
class PushResult:
    session_id: str
    accepted: int = 0
    deduplicated: int = 0
    compressed: int = 0
    evicted: int = 0
    current_tokens: int = 0
    budget_remaining: int = 0
    cache_boundary: dict = field(default_factory=dict)


@dataclass
class SessionConfig:
    session_id: str
    max_tokens: int = 8000
    dedup_jaccard: float = 0.85
    preserve_recent: int = 10
    push_count: int = 0
    cache_boundary_tokens: int = 0


class OverBudgetError(ValueError):
    """A single entry exceeds the whole session budget (ErrOverBudget)."""


def _enforce_budget_pdf(
    pdf: pd.DataFrame, max_tokens: int, preserve_recent: int
) -> tuple[pd.DataFrame, int, int]:
    """Faithful replication of the reference's pass loop
    (sqlite.go:226-238 outer loop, :484-600 one pass). Mutates a copy;
    returns (entries, compressed_count, evicted_count)."""
    df = pdf.sort_values("seq").reset_index(drop=True)
    compressed = evicted = 0
    while True:
        total = int(df["tokens"].sum())
        if total <= max_tokens:
            break
        limit = len(df) - preserve_recent
        if limit <= 0:
            # evictOldest fallback: drop oldest until within budget
            changed = False
            while total > max_tokens and len(df):
                total -= int(df.iloc[0]["tokens"])
                df = df.iloc[1:].reset_index(drop=True)
                evicted += 1
                changed = True
            if not changed:
                break
            continue
        cands = df.iloc[:limit]
        # importance ASC; seq order as the (stable) tiebreak
        order = cands.sort_values(["importance", "seq"], kind="stable").index
        c = e = 0
        drop: list[int] = []
        for i in order:
            if total <= max_tokens:
                break
            lvl = int(df.at[i, "compression_level"])
            nxt = lvl + 1
            if nxt > 3:
                total -= int(df.at[i, "tokens"])
                drop.append(i)
                e += 1
                continue
            new_content = compress_to_level(df.at[i, "original_content"], nxt)
            new_tokens = est_tokens(new_content)
            total -= int(df.at[i, "tokens"]) - new_tokens
            df.at[i, "content"] = new_content
            df.at[i, "compression_level"] = nxt
            df.at[i, "tokens"] = new_tokens
            c += 1
        if drop:
            df = df.drop(index=drop).reset_index(drop=True)
        compressed += c
        evicted += e
        if c == 0 and e == 0:
            break
    return df, compressed, evicted


class SessionStore:
    def __init__(self, spark: SparkSession, path: str,
                 cfg: DedupConfig | None = None,
                 default_max_tokens: int = 8000,
                 default_dedup_jaccard: float = 0.85,
                 default_preserve_recent: int = 10,
                 embedding_provider=None, dedup_cosine: float = 0.95,
                 vacuum_keep: int | None = 8):
        """embedding_provider (embedding.EmbeddingProvider, optional):
        when set, entries persist an `embedding` column and the push
        dedup probe becomes embedding cosine >= dedup_cosine — the
        reference's isDuplicate similarity (sqlite.go:441-481) — via
        the same linear probe it uses (sessions are bounded, reference
        TODO <1K entries; the collect is loudly guarded). Without a
        provider the LSH shingle probe is the network-free default.

        Entries live in a copy-on-write versioned table
        (tableio.VersionedTable): a context() or entries() frame planned
        before a push/delete keeps reading the pre-mutation rows. An
        entries directory written by the older dir-overwrite layout is
        migrated as version 1 on open (tableio.open_table).

        vacuum_keep: auto-vacuum after each commit, retaining the newest
        N versions — the per-push snapshots otherwise accumulate
        O(pushes x table size) disk (round-5 advice #2). A frame handed
        out survives `vacuum_keep - 1` further commits; after that its
        action fails (file gone) rather than returning other rows. None
        disables."""
        self.spark, self.path = spark, path
        self.vacuum_keep = vacuum_keep
        # 64-bit lanes: persisted array<bigint> sigs (see MemoryStore)
        from dataclasses import replace as _replace
        self.cfg = _replace(cfg or DedupConfig(), minhash_lane_bits=64)
        self.defaults = (default_max_tokens, default_dedup_jaccard,
                         default_preserve_recent)
        self.embedding_provider = embedding_provider
        self.dedup_cosine = dedup_cosine
        self._table = open_table(spark, self._entries_path(),
                                 stats_col="seq")
        self._sessions: dict[str, SessionConfig] = {}
        self._load_sessions()

    # ------------------------------------------------------------- storage
    def _sessions_path(self) -> str:
        return os.path.join(self.path, "sessions.json")

    def _entries_path(self) -> str:
        return os.path.join(self.path, "entries")

    def _load_sessions(self) -> None:
        p = self._sessions_path()
        if os.path.exists(p):
            with open(p) as f:
                for sid, d in json.load(f).items():
                    self._sessions[sid] = SessionConfig(**d)

    def _save_sessions(self) -> None:
        tmp = self._sessions_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({k: vars(v) for k, v in self._sessions.items()}, f)
        os.replace(tmp, self._sessions_path())

    def _entry_schema(self) -> str:
        if self.embedding_provider is not None:
            return ENTRY_SCHEMA + ", embedding array<float>"
        return ENTRY_SCHEMA

    def entries(self, session_id: str | None = None) -> DataFrame:
        df = self._table.read(schema=self._entry_schema())
        if self.embedding_provider is not None and "embedding" not in df.columns:
            df = df.withColumn("embedding", F.lit(None).cast("array<float>"))
        if session_id is not None:
            df = df.filter(F.col("session_id") == session_id)
        return df

    def _publish(self, df: DataFrame) -> None:
        # copy-on-write: the new version's files are written fresh; df
        # may lazily read the current version's files (never deleted by
        # a writer), so no pre-materialization needed
        self._table.publish(df)
        auto_vacuum(self._table, self.vacuum_keep)

    # ---------------------------------------------------------------- API
    def create(self, session_id: str | None = None, max_tokens: int | None = None,
               dedup_jaccard: float | None = None,
               preserve_recent: int | None = None) -> str:
        sid = session_id or uuid.uuid4().hex[:16]
        d_max, d_dj, d_pr = self.defaults
        self._sessions[sid] = SessionConfig(
            session_id=sid,
            max_tokens=max_tokens if max_tokens and max_tokens > 0 else d_max,
            dedup_jaccard=dedup_jaccard if dedup_jaccard else d_dj,
            preserve_recent=(preserve_recent
                             if preserve_recent is not None else d_pr),
        )
        self._save_sessions()
        return sid

    def _require(self, session_id: str) -> SessionConfig:
        if session_id not in self._sessions:
            raise KeyError(f"session not found: {session_id}")
        return self._sessions[session_id]

    def push(self, session_id: str, entries: list[dict]) -> PushResult:
        """entries: [{role?, content, source?, importance?}] in arrival
        order. Returns counts mirroring PushResult (sqlite.go:151-266)."""
        sess = self._require(session_id)
        result = PushResult(session_id=session_id)

        batch = [
            {
                "role": e.get("role", ""),
                "content": e["content"],
                "source": e.get("source", ""),
                "importance": e.get("importance") if (e.get("importance") or 0) > 0 else 0.5,
            }
            for e in entries
            if e.get("content")
        ]
        for e in batch:
            if est_tokens(e["content"]) > sess.max_tokens:
                raise OverBudgetError(
                    f"entry of {est_tokens(e['content'])} tokens exceeds "
                    f"session budget {sess.max_tokens}"
                )

        stored = self.entries(session_id)
        if self.embedding_provider is not None:
            accepted_rows = self._dedup_batch_cos(batch, stored, sess, result)
        else:
            accepted_rows = self._dedup_batch(batch, stored, sess, result)

        max_seq_row = stored.agg(F.max("seq").alias("m")).collect()[0]
        max_seq = int(max_seq_row["m"] or 0)
        push_no = sess.push_count + 1
        new_rows = []
        for i, e in enumerate(accepted_rows):
            max_seq += 1
            new_rows.append(
                (
                    uuid.uuid4().hex[:16], session_id, e["role"], e["content"],
                    e["content"], e["source"], float(e["importance"]), 0,
                    est_tokens(e["content"]), max_seq, push_no, 0,
                    content_hash(e["content"]),
                )
            )
        if new_rows:
            new_df = self.spark.createDataFrame(
                new_rows,
                "id string, session_id string, role string, content string, "
                "original_content string, source string, importance double, "
                "compression_level int, tokens long, seq long, "
                "inserted_at_push long, stable_since_turn long, "
                "content_hash string",
            ).withColumn("created_at", F.current_timestamp())
            sigs = with_signatures(new_df.select("id", "content"), "content",
                                   "id", self.cfg, parts=("shingles", "minhash"))
            new_df = new_df.join(sigs, "id", "left")
            if self.embedding_provider is not None:
                vecs = self.embedding_provider.embed_batch(
                    [e["content"] for e in accepted_rows]
                )
                ids = [r[0] for r in new_rows]
                emb_df = self.spark.createDataFrame(
                    [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
                    "id string, embedding array<float>",
                )
                new_df = new_df.join(emb_df, "id", "left")
            all_entries = self.entries().unionByName(new_df)
        else:
            all_entries = self.entries()
        result.accepted = len(new_rows)

        # budget enforcement: per-session sequential escalation, Arrow-side
        this = all_entries.filter(F.col("session_id") == session_id)
        others = all_entries.filter(F.col("session_id") != session_id)
        pdf = this.toPandas()  # one session: reference-scale (<1K rows)
        kept_pdf, c, e = _enforce_budget_pdf(pdf, sess.max_tokens, sess.preserve_recent)
        result.compressed, result.evicted = c, e

        # stability promotion (cache_boundary.go:228-270): entries that
        # survived MIN_STABLE_TURNS pushes unmodified become stable
        thr = push_no - MIN_STABLE_TURNS
        promoted = False
        if thr > 0 and len(kept_pdf):
            mask = (kept_pdf["stable_since_turn"] == 0) & (
                kept_pdf["inserted_at_push"] <= thr
            )
            if mask.any():
                kept_pdf.loc[mask, "stable_since_turn"] = kept_pdf.loc[
                    mask, "inserted_at_push"
                ]
                promoted = True

        if c or e or new_rows or promoted:
            if len(kept_pdf) and "embedding" in kept_pdf.columns:
                # toPandas renders array<float> cells as ndarrays; feed
                # plain lists back to createDataFrame
                kept_pdf = kept_pdf.copy()
                kept_pdf["embedding"] = [
                    None if v is None else [float(x) for x in v]
                    for v in kept_pdf["embedding"]
                ]
            kept_df = self.spark.createDataFrame(kept_pdf, schema=this.schema) \
                if len(kept_pdf) else self.spark.createDataFrame([], self._entry_schema())
            self._publish(others.unionByName(kept_df))
        sess.push_count = push_no

        result.cache_boundary = self._evaluate_boundary(sess, kept_pdf)
        self._save_sessions()

        result.current_tokens = int(kept_pdf["tokens"].sum()) if len(kept_pdf) else 0
        result.budget_remaining = sess.max_tokens - result.current_tokens
        return result

    def _evaluate_boundary(self, sess: SessionConfig, pdf) -> dict:
        """Cache-boundary evaluation (cache_boundary.go:91-202): stable
        entries' cumulative-token positions, filtered at the 1024-token
        prefix floor, top-4 largest prefixes emitted in document order;
        advance/retreat detected against the stored boundary.

        Deviation noted vs the reference: its candidate filter
        `stable_since <= MinStableTurns` (cache_boundary.go:129-147)
        limits markers to entries inserted in the first 2 pushes ever —
        we treat ANY stable entry (stable_since_turn > 0) as a
        candidate, which matches the documented intent."""
        markers: list[dict] = []
        total_stable = 0
        if len(pdf):
            df = pdf.sort_values("seq")
            cum = 0
            cands = []
            for _, r in df.iterrows():
                cum += int(r["tokens"])
                if int(r["stable_since_turn"]) > 0 and cum >= MIN_PREFIX_TOKENS:
                    cands.append((cum, r["id"], int(r["stable_since_turn"])))
            cands.sort(key=lambda x: -x[0])
            chosen = sorted(cands[:MAX_BOUNDARY_MARKERS])
            for cum, eid, since in chosen:
                markers.append(
                    {"entry_id": eid, "tokens_up_to_here": cum,
                     "stable_since_turn": since}
                )
                total_stable = cum
        prev = sess.cache_boundary_tokens
        out = {
            "markers": markers,
            "total_stable_tokens": total_stable,
            "advanced": total_stable > prev,
            "retreated": 0 < total_stable < prev or (total_stable == 0 and prev > 0),
        }
        sess.cache_boundary_tokens = total_stable
        return out

    def _dedup_batch(self, batch: list[dict], stored: DataFrame,
                     sess: SessionConfig, result: PushResult) -> list[dict]:
        """Order-dependent accept/reject: entry i is rejected iff it
        near-dups a stored entry or an earlier ACCEPTED entry of this
        batch (the reference stores entries as it iterates, so later
        entries see earlier accepted ones). One write-time probe
        (operators/probe.py) over zero-padded position ids, whose string
        order is arrival order; only the edge list is collected."""
        if not batch:
            return []
        ids = [f"{i:012d}" for i in range(len(batch))]
        bdf = self.spark.createDataFrame(
            [(i, e["content"]) for i, e in zip(ids, batch)],
            "id string, content string",
        )
        sig_new, counts = onetask.observed(with_signatures(
            bdf, "content", "id", self.cfg, parts=("shingles", "minhash")), self.cfg)
        # the table's row count bounds this session's stored rows
        rejected = greedy_accept(probe_edges(
            sig_new, stored, self.cfg, sess.dedup_jaccard,
            "session push dedup edges", counts["rows"], self._table.row_count()))
        result.deduplicated += len(rejected)
        return [e for i, e in zip(ids, batch) if i not in rejected]

    def _dedup_batch_cos(self, batch: list[dict], stored: DataFrame,
                         sess: SessionConfig, result: PushResult) -> list[dict]:
        """Embedding-cosine variant of the push probe — the reference's
        isDuplicate linear scan (sqlite.go:441-481) verbatim: entry i is
        rejected iff cosine >= dedup_cosine vs a stored entry or an
        earlier ACCEPTED entry of this batch. Sessions are bounded
        (reference TODO <1K entries), so the stored vectors are pulled
        with a loud guard and the probe is a numpy matmul."""
        import numpy as np

        if not batch:
            return []
        prov = self.embedding_provider
        new_v = np.array(
            [v for v in prov.embed_batch([e["content"] for e in batch])],
            dtype=np.float64,
        )
        new_n = np.maximum(np.linalg.norm(new_v, axis=1, keepdims=True), 1e-12)
        new_u = new_v / new_n
        rows = guarded_collect(
            stored.select("embedding").filter(F.col("embedding").isNotNull()),
            int(self.cfg.extra.get("session_probe_max", 100_000)),
            "session embedding dedup probe (stored vectors)",
        )
        thr = self.dedup_cosine
        if rows:
            sv = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
            sv = sv / np.maximum(np.linalg.norm(sv, axis=1, keepdims=True), 1e-12)
            vs_stored = (new_u @ sv.T).max(axis=1) >= thr
        else:
            vs_stored = np.zeros(len(batch), dtype=bool)
        intra = new_u @ new_u.T
        accepted: list[dict] = []
        accepted_idx: list[int] = []
        for i, e in enumerate(batch):
            if vs_stored[i] or any(intra[i, j] >= thr for j in accepted_idx):
                result.deduplicated += 1
                continue
            accepted.append(e)
            accepted_idx.append(i)
        return accepted

    def context(self, session_id: str, role: str | None = None,
                max_tokens: int = 0) -> tuple[DataFrame, dict]:
        """Entries in seq order (optional role filter), take-while under
        max_tokens; stats mirror ContextStats (sqlite.go:270-357)."""
        self._require(session_id)
        df = self.entries(session_id)
        if role:
            df = df.filter(F.col("role") == role)
        from pyspark.sql import Window

        w = (
            Window.orderBy(F.asc("seq"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        df = df.withColumn("_cum", F.sum("tokens").over(w))
        if max_tokens and max_tokens > 0:
            df = df.filter(F.col("_cum") <= max_tokens)
        # per-entry integer floor (len+3)//4 matching est_tokens /
        # reference estimateTokens, computed over the SAME filtered row
        # set as total_tokens — not a float sum over all session rows
        df = df.withColumn(
            "_orig_tok",
            F.floor((F.length(F.coalesce("original_content", F.lit(""))) + 3) / 4)
            .cast("long"),
        )
        out = df.select("id", "role", "content", "source",
                        "compression_level", "tokens", "seq").orderBy("seq")
        rows = df.select("id", "role", "compression_level", "tokens", "seq",
                         "_orig_tok").orderBy("seq").collect()
        levels: dict[int, int] = {}
        for r in rows:
            levels[r["compression_level"]] = levels.get(r["compression_level"], 0) + 1
        total_orig = sum(r["_orig_tok"] for r in rows)
        total_tokens = sum(r["tokens"] for r in rows)
        stats = {
            "total_entries": len(rows),
            "total_tokens": total_tokens,
            "compression_levels": levels,
            "compression_savings": int(total_orig or 0) - total_tokens,
        }
        return out, stats

    def delete(self, session_id: str) -> int:
        self._require(session_id)
        df = self.entries()
        gone = df.filter(F.col("session_id") == session_id).count()
        self._publish(df.filter(F.col("session_id") != session_id))
        del self._sessions[session_id]
        self._save_sessions()
        return gone

    # ---------------------------------------------------- bulk/scale path
    def enforce_budget_bulk(self, entries: DataFrame,
                            session_cfgs: DataFrame) -> DataFrame:
        """Cluster-scale variant: enforce every session's budget in one
        applyInPandas pass — one Arrow group per session, all sessions in
        parallel. session_cfgs: (session_id, max_tokens, preserve_recent).
        """
        joined = entries.join(F.broadcast(session_cfgs), "session_id")

        def apply(pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(pdf):
                return pdf.drop(columns=["max_tokens", "preserve_recent"])
            mt = int(pdf["max_tokens"].iloc[0])
            pr = int(pdf["preserve_recent"].iloc[0])
            body = pdf.drop(columns=["max_tokens", "preserve_recent"])
            out, _, _ = _enforce_budget_pdf(body, mt, pr)
            return out

        return joined.groupBy("session_id").applyInPandas(
            apply, schema=entries.schema
        )
