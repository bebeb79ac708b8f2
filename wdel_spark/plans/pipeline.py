"""The entity-resolution pipeline: stages S1..S7 (SURVEY.md §7.1).

Each stage is a pure ``DataFrame -> DataFrame`` function; ``run_pipeline``
chains them with checkpoint-resumable snapshots + lineage counters.

Dataflow (one lazy DAG per stage, restating the reference's ``POST /el``
flow `/root/reference/src/pipeline.py:314-338` in Spark terms):

    documents ── S1 extract ──> mentions(norm, block_key, vec)
    kb tables ── prepare_kb ──> aliases(resolved qid, block_key) ⋈ vectors
    S2 block:   mentions ⋈ aliases ON block_key     [replaces faiss ANN]
    S4 score:   batched JW + Levenshtein + cosine   [replaces BERT + Qwen]
    S5 rank:    window top-k, threshold -> edges
    S6 cluster: large-star/small-star CC -> cluster ids
    S7 emit:    clusters + span-sequence invariant check

Python crosses the JVM boundary in exactly two pandas-UDF stages (mention
featurization, pair scoring); everything else is whole-stage-codegen'd
Catalyst expressions.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, asdict

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from wdel_spark.functions.textnorm import (
    normalize_text,
    block_key,
    normalize_col,
    block_key_col,
)
from wdel_spark.functions.scoring import (
    hash_embed,
    seq_cosine_batch,
    pair_score_batch,
    EMBED_DIM,
)
from wdel_spark.operators.topk import top_k_per_group
from wdel_spark.operators.skew import salted_join
from wdel_spark.operators.cc import connected_components
from wdel_spark.sources.snapshot import (
    write_snapshot,
    read_snapshot,
    snapshot_is_valid,
)


@dataclass(frozen=True)
class PipelineParams:
    top_k: int = 10            # reference: /root/reference/src/pipeline.py:54
    score_threshold: float = 0.3
    join_strategy: str = "broadcast"   # broadcast | sortmerge | salted
    salt_mod: int = 16
    hot_threshold: int = 100_000
    cc_max_iterations: int = 25
    # 122-bit decimal node/raw/nm ids (see _wide_id) for 10^12-row scale;
    # default narrow longs are faster and collision-safe below ~10^10 nodes
    wide_ids: bool = False

    def digest(self) -> str:
        return hashlib.sha256(
            json.dumps(asdict(self), sort_keys=True).encode()
        ).hexdigest()[:16]


# ------------------------------------------------------------------ S1

_MENTION_FEAT_SCHEMA = (
    "doc_id string, span_idx int, mention string, norm_mention string, "
    "block_key string, m_vec array<float>"
)
_MENTION_SLIM_SCHEMA = (
    "doc_id string, span_idx int, mention string, norm_mention string, "
    "block_key string"
)


# mention text -> (norm, block_key) memo.  Mention texts repeat massively
# (Zipf), and with spark.python.worker.reuse the memo survives across
# batches AND stages within one worker.  Pure cache: byte-identical output.
_NORM_MEMO: dict[str, tuple[str, str]] = {}
_NORM_MEMO_MAX = 1 << 20


def _norm_and_key(texts) -> tuple[list[str], list[str]]:
    norms, keys = [], []
    memo = _NORM_MEMO
    for t in texts:
        hit = memo.get(t)
        if hit is None:
            n = normalize_text(t)
            hit = (n, block_key(n))
            if len(memo) < _NORM_MEMO_MAX:
                memo[t] = hit
        norms.append(hit[0])
        keys.append(hit[1])
    return norms, keys


def extract_mentions(documents: DataFrame, with_vec: bool = True
                     ) -> DataFrame:
    """S1: documents -> one row per mention span, featurized.

    ``posexplode`` keeps the span's array position as ``span_idx`` (the
    stable mention key — Spark must never rely on row order, SURVEY.md §2
    J4); the source ``documents`` rows are untouched, preserving the
    span-sequence invariant.

    ``with_vec=False`` is the production path and is PURE JVM: normalize
    + blocking key are Catalyst expressions (``textnorm.normalize_col``,
    fuzz-pinned byte-equal to the python oracle kernels), so the hottest
    stage of the pipeline stays inside whole-stage codegen — no python
    workers, no Arrow transfer.  (Measured: the Arrow/python-runner round
    trip on this stage was the dominant scaling-efficiency killer at
    local[32] even with ZERO python compute.)  Embeddings are computed
    once per *distinct* normalized mention inside the signature scorer
    (``score_pair_sigs``), not per occurrence — at web scale mention
    texts repeat massively (Zipf), so per-occurrence embedding is pure
    waste and the 128-float column would dominate every shuffle.

    ``with_vec=True`` keeps the Arrow-batched python path (hash_embed is
    numpy); it repartitions by compute first.
    """
    exploded = (
        documents.select(
            "doc_id", F.posexplode("spans").alias("span_idx", "span")
        )
        .where(F.col("span.kind") == "mention")
        .select("doc_id", "span_idx", F.col("span.text").alias("mention"))
    )
    if not with_vec:
        norm = normalize_col(F.col("mention"))
        return exploded.select(
            "doc_id", "span_idx", "mention", norm.alias("norm_mention"),
        ).withColumn("block_key", block_key_col(F.col("norm_mention")))

    def featurize(batches):
        for pdf in batches:
            norms, keys = _norm_and_key(pdf["mention"].tolist())
            vecs = hash_embed(norms, EMBED_DIM)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "span_idx": pdf["span_idx"],
                "mention": pdf["mention"],
                "norm_mention": norms,
                "block_key": keys,
                "m_vec": [v.tolist() for v in vecs],
            })

    npart = documents.sparkSession.sparkContext.defaultParallelism * 4
    return exploded.repartition(npart).mapInPandas(
        featurize, schema=_MENTION_FEAT_SCHEMA)


# ------------------------------------------------------------------ KB prep

def prepare_kb(
    kb_aliases: DataFrame,
    entity_vectors: DataFrame,
    redirects: DataFrame | None = None,
    wikimedia_filter: DataFrame | None = None,
) -> DataFrame:
    """Alias blocking table with redirect-normalized qids, wikimedia-internal
    entities dropped, entity vector attached.

    Mirrors the reference KB-merge semantics: redirect join
    (`merge_info.py:36-37,104,135` — left join + coalesce, J3), wikimedia
    anti-filter (`merge_info.py:107-109`, P6).  The redirect table is small
    → broadcast; the anti-join probe side too.
    """
    a = kb_aliases
    if redirects is not None:
        a = (
            a.join(F.broadcast(redirects),
                   a["qid"] == redirects["src_qid"], "left")
            .select(
                F.coalesce("dst_qid", "qid").alias("qid"),
                "alias", "norm_alias", "block_key", "lang", "is_label",
            )
        )
    if wikimedia_filter is not None:
        a = a.join(F.broadcast(wikimedia_filter), "qid", "left_anti")
    a = a.dropDuplicates(["qid", "block_key", "norm_alias"])
    return a.join(entity_vectors.withColumnRenamed("vec", "e_vec"), "qid")


# ------------------------------------------------------------------ S2

def block_candidates(
    mentions: DataFrame,
    kb: DataFrame,
    params: PipelineParams = PipelineParams(),
) -> DataFrame:
    """S2: the blocking join — mentions ⋈ aliases ON block_key.

    Replaces the reference's faiss ANN search
    (`/root/reference/src/candidate_generation/prediction.py:144-147`).
    Strategies:
      broadcast — KB alias table fits in memory (the common case: even 93M
                  aliases × ~100 B ≈ 10 GB is near the edge; per-language
                  partition broadcast would be used at full Wikidata scale);
      sortmerge — both sides shuffled on block_key, AQE skew-split enabled;
      salted    — explicit hot-key salting (operators/skew.py) on top of
                  sort-merge for adversarial skew.
    Empty keys never join (filtered both sides).
    """
    m = mentions.where(F.col("block_key") != "")
    k = kb.where(F.col("block_key") != "")
    if params.join_strategy == "broadcast":
        return m.join(F.broadcast(k), "block_key")
    if params.join_strategy == "salted":
        return salted_join(
            m, k, "block_key",
            salt_mod=params.salt_mod,
            hot_threshold=params.hot_threshold,
            probe_salt_cols=["doc_id", "span_idx"],
        )
    # sort-merge: spread both sides on the key, let AQE split skew
    return m.repartition("block_key").join(
        k.hint("merge"), "block_key"
    )


# ------------------------------------------------------------------ S4

_SCORE_SCHEMA = (
    "doc_id string, span_idx int, qid string, norm_mention string, "
    "norm_alias string, score double"
)


def score_pairs(candidates: DataFrame) -> DataFrame:
    """S4: batched pairwise scorer over Arrow batches.

    One ``mapInPandas`` computing, per (mention, alias) pair:
      cosine(m_vec, e_vec)   — vectorized numpy over the whole batch;
      Jaro-Winkler + Levenshtein on the normalized strings;
      combined score = 0.4·JW + 0.3·lev_sim + 0.3·cos  (functions/scoring).

    The SAME kernels back the pandas oracle, so score equality is by
    construction.  Behavioral stand-in for the reference's bi-encoder dot
    product (`model.py:105-107`) + Qwen yes/no judge
    (`entity_disambiguation/prediction.py:84-164`).
    Perf: Levenshtein runs JVM-side (Catalyst ``levenshtein()`` builtin,
    whole-stage codegen) BEFORE the Arrow batch crosses into Python;
    Jaro-Winkler + the combine are batched numpy (``pair_score_batch``) —
    no per-row Python anywhere in the hot path.
    """

    def scorer(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mv = np.array([np.asarray(v, dtype=np.float32)
                           for v in pdf["m_vec"]])
            ev = np.array([np.asarray(v, dtype=np.float32)
                           for v in pdf["e_vec"]])
            # sequential-double cosine — the kernel shared verbatim with
            # the signature scorer and the pandas oracle
            cos = seq_cosine_batch(mv, ev)
            scores = pair_score_batch(
                pdf["norm_mention"], pdf["norm_alias"], cos,
                lev=pdf["lev"].to_numpy())
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "span_idx": pdf["span_idx"],
                "qid": pdf["qid"],
                "norm_mention": pdf["norm_mention"],
                "norm_alias": pdf["norm_alias"],
                "score": scores,
            })

    slim = candidates.select(
        "doc_id", "span_idx", "qid", "norm_mention", "norm_alias",
        "m_vec", "e_vec",
        F.levenshtein("norm_mention", "norm_alias").alias("lev"),
    )
    return slim.mapInPandas(scorer, schema=_SCORE_SCHEMA)


# ----------------------------------------------- S2'+S4': signature path

_SIG_SCORE_SCHEMA = "norm_mention string, qid string, score double"


def candidate_signatures(
    mentions: DataFrame,
    kb: DataFrame,
    params: PipelineParams = PipelineParams(),
    assume_unique: bool = False,
) -> DataFrame:
    """S2': blocking join at SIGNATURE granularity.

    Mention texts repeat massively at web scale (the hot alias owns 30% of
    mentions in the skew fixture), but the score is a pure function of
    (norm_mention, norm_alias, entity vector) — so we block and score each
    distinct signature once and fan results back out to occurrences with a
    cheap join.  Side effect: the hot blocking key collapses to ONE probe
    row, eliminating the join skew at its source (salting remains for the
    occurrence fan-out join when the signature table outgrows broadcast).

    Output: distinct SLIM (norm_mention, norm_alias, qid) — the entity
    vector is deliberately NOT attached here: every downstream shuffle
    (dedupe, compute-repartition before the python scorer) would carry a
    512-byte vector per row for nothing (~10x the shuffle bytes,
    measured); ``score_pair_sigs`` re-attaches vectors AFTER its
    repartition.

    ``assume_unique=True`` is a caller assertion (r6, guide §2.4) that
    (a) the probe side is already one row per norm_mention and (b) the KB
    side is unique per (block_key, norm_alias, qid) — true for
    ``prepare_kb``/``derive_vocab_kb_df`` output, whose final dedup is on
    exactly those columns (block_key is a function of norm_alias).  Under
    both, the equi-join output is structurally duplicate-free, so the
    probe-side ``distinct`` and the output ``dropDuplicates`` — two full
    exchanges of the signature table — are skipped outright.
    """
    sigs = mentions.where(F.col("block_key") != "").select(
        "norm_mention", "block_key")
    if not assume_unique:
        sigs = sigs.distinct()
    k = kb.where(F.col("block_key") != "")
    k_slim = k.select("block_key", "norm_alias", "qid")
    if params.join_strategy == "broadcast":
        joined = sigs.join(F.broadcast(k_slim), "block_key")
    elif params.join_strategy == "salted":
        # explicit hot-key salting (operators/skew.py) — the signature
        # probe side is already distinct per (norm_mention, block_key), so
        # salt by the mention text
        joined = salted_join(
            sigs, k_slim, "block_key",
            salt_mod=params.salt_mod,
            hot_threshold=params.hot_threshold,
            probe_salt_cols=["norm_mention"],
        )
    else:  # sort-merge: spread both sides, let AQE split residual skew
        joined = sigs.repartition("block_key").join(
            k_slim.hint("merge"), "block_key")
    out = joined.select("norm_mention", "norm_alias", "qid")
    if assume_unique:
        return out
    return out.dropDuplicates(["norm_mention", "norm_alias", "qid"])


def score_pair_sigs(pair_sigs: DataFrame, kb: DataFrame) -> DataFrame:
    """S4': batched scorer over distinct signatures.

    ``pair_sigs``: slim (norm_mention, norm_alias, qid) from
    ``candidate_signatures``; ``kb``: any frame carrying (qid, e_vec).
    The slim sigs are repartitioned for python-compute balance FIRST and
    the 512-byte entity vectors join (broadcast) AFTER — the shuffle
    moves ~60 bytes/row instead of ~600 (measured 10x).

    Embeds each distinct norm_mention of an Arrow batch once (the batch's
    norms are deduped before ``hash_embed``, which hashes each distinct
    gram once), scores against the entity vector + alias string, and
    collapses alias variants to the per-(mention, qid) max — the same
    value the row-level scorer + groupBy-max produces.

    Design note (r4): a variant that moved the cosine JVM-side (embed
    per distinct norm in one stage, ``aggregate(zip_with(...))`` dot per
    candidate row) to keep vectors out of Arrow was measured and
    REJECTED on a like-for-like A/B at local[8]/1M docs: interpreted
    higher-order functions allocate a 128-double array per row, and the
    vector re-attach join shuffles 512 B/norm — 528 -> 822 executor
    cpu-s (101 -> 171 s wall).  The Arrow-batched numpy cosine is the
    cheaper path even counting the e_vec transfer; the cosine kernel is
    ``seq_cosine_batch`` (sequential-double fold) shared verbatim with
    the pandas oracle, so score equality stays bit-exact."""

    def scorer(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            norms = pdf["norm_mention"].tolist()
            uniq = sorted(set(norms))
            uvecs = hash_embed(uniq, EMBED_DIM)
            idx = {n: i for i, n in enumerate(uniq)}
            mv = uvecs[[idx[n] for n in norms]]
            ev = np.array([np.asarray(v, dtype=np.float32)
                           for v in pdf["e_vec"]])
            cos = seq_cosine_batch(mv, ev)
            scores = pair_score_batch(
                norms, pdf["norm_alias"], cos, lev=pdf["lev"].to_numpy())
            yield pd.DataFrame({
                "norm_mention": norms,
                "qid": pdf["qid"],
                "score": scores,
            })

    # Levenshtein via the Catalyst builtin (JVM, codegen) — the Arrow
    # batch carries the precomputed distance; Python only does batched
    # numpy (JW + cosine + combine).  Respread before the python stage
    # with an AQE REBALANCE (r6, guide §2): the former fixed
    # ``repartition(2 x parallelism)`` scheduled that many python tasks
    # regardless of input size — ~64 near-empty tasks when the sig table
    # is small — while REBALANCE sizes partitions from the runtime byte
    # count against the session's 8 MB advisory (deliberately small so
    # python-compute-heavy stages still get many waves at scale; see
    # session.py).
    evec = kb.select("qid", "e_vec").dropDuplicates(["qid"])
    with_lev = (
        pair_sigs.hint("rebalance")
        .join(F.broadcast(evec), "qid")
        .withColumn("lev", F.levenshtein("norm_mention", "norm_alias"))
    )
    scored = with_lev.mapInPandas(scorer, schema=_SIG_SCORE_SCHEMA)
    return scored.groupBy("norm_mention", "qid").agg(
        F.max("score").alias("score"))


def rank_signature_scores(
    sig_scores: DataFrame, params: PipelineParams = PipelineParams()
) -> DataFrame:
    """Per-SIGNATURE top-k: (norm_mention, qid, score, rank).

    A mention occurrence's candidate ranking depends only on its
    normalized text — score and tie-break (score desc, qid asc) are pure
    functions of the signature — so ranking BEFORE the occurrence fan-out
    is semantics-identical to ranking after it, while the window shuffles
    |signatures| x k rows instead of |occurrences| x |candidates| (the
    single largest shuffle of the round-2 plan; r2 VERDICT #1c)."""
    return top_k_per_group(
        sig_scores, ["norm_mention"],
        [F.desc("score"), F.asc("qid")], params.top_k)


def _fanout_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    strategy: str,
    build_rows: int | None,
    broadcast_max_rows: int,
    salt_mod: int,
    hot_threshold: int,
    probe_salt_cols: list[str],
) -> DataFrame:
    """Strategy-aware occurrence fan-out join (shared by the string- and
    id-keyed attach paths).

      broadcast — force a broadcast hash join (build side known small);
      salted    — shuffle join with explicit hot-key salting
                  (operators/skew.py): occurrences of one hot key
                  otherwise all land in one partition;
      shuffle   — plain shuffle join; AQE converts to broadcast or splits
                  skew at runtime;
      auto      — broadcast when ``build_rows`` is known and small enough;
                  salted when known and larger; unhinted when unknown.

    All strategies are semantics-preserving (tested identical)."""
    if strategy == "auto":
        if build_rows is None:
            strategy = "shuffle"
        elif build_rows <= broadcast_max_rows:
            strategy = "broadcast"
        else:
            strategy = "salted"
    if strategy == "broadcast":
        return probe.join(F.broadcast(build), key)
    if strategy == "salted":
        return salted_join(
            probe, build, key,
            salt_mod=salt_mod,
            hot_threshold=hot_threshold,
            probe_salt_cols=probe_salt_cols,
        )
    if strategy == "shuffle":
        return probe.join(build, key)
    raise ValueError(
        f"unknown attach strategy {strategy!r}; "
        "expected auto|broadcast|salted|shuffle")


def attach_sig_scores(
    mentions: DataFrame,
    sig_scores: DataFrame,
    strategy: str = "auto",
    sig_rows: int | None = None,
    broadcast_max_rows: int = 10_000_000,
    salt_mod: int = 16,
    hot_threshold: int = 1_000_000,
) -> DataFrame:
    """Fan signature scores (optionally pre-ranked — a ``rank`` column is
    passed through) back out to mention occurrences by normalized text.

    At 100 TB the distinct-signature table can reach billions of rows —
    unconditionally broadcasting it (the round-1 default) is impossible;
    see ``_fanout_join`` for the strategy ladder."""
    joined = _fanout_join(
        mentions, sig_scores, "norm_mention", strategy, sig_rows,
        broadcast_max_rows, salt_mod, hot_threshold,
        probe_salt_cols=["doc_id", "span_idx"])
    cols = ["doc_id", "span_idx", "qid", "score"]
    if "rank" in sig_scores.columns:
        cols.append("rank")
    return joined.select(*cols)


# (attach_ranked_ids was removed in r4 — er_ids_plan builds its id-keyed
# fan-out inline via _fanout_join, and keeping a second unused formulation
# invited silent drift; ADVICE r3.)


# ------------------------------------------------------- node id scheme

_NODE_SPACE = 1 << 61


def _wide_id(seed: str, *cols) -> F.Column:
    """122-bit id as decimal(38,0): two independent 61-bit xxhash64 halves
    composed as ``hi * 2^61 + lo``.

    At 10^12 mentions the 64-bit scheme expects rare birthday collisions
    (~10^24 pairs x 2^-61 ≈ tens of collisions — each one silently merging
    two unrelated clusters); 122 bits pushes the expectation to ~10^-13.
    decimal(38,0) keeps the id a single orderable/groupable/joinable
    column, so every downstream operator (CC's least/greatest/min, the
    fan-out hash joins, salting's xxhash64) works unchanged — values stay
    < 2^123 ≈ 1.06e37, inside decimal(38) range.  Narrow (long) ids remain
    the default: Tungsten compares/hashes longs materially faster than
    128-bit decimals — measured, not asserted: the 1M-doc stored-corpus
    A/B at local[8] (BENCH_WIDEID.json, r5) put the decimal(38) tax at
    6.6x executor CPU / 6.5x wall (1196.8 -> 7881.2 CPU-s), concentrated
    in the id-keyed shuffle/scoring stages plus heavy GC from Decimal
    boxing, so wide ids are a >=10^10-node opt-in, not a default — and
    below ~10^10 nodes the collision risk is negligible."""
    import decimal as _dec

    hi = F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(_NODE_SPACE))
    lo = F.pmod(F.xxhash64(F.lit(seed + "\x01"), *cols), F.lit(_NODE_SPACE))
    d38 = "decimal(38,0)"
    return (
        hi.cast(d38) * F.lit(_dec.Decimal(_NODE_SPACE)).cast(d38)
        + lo.cast(d38)
    ).cast(d38)


def entity_node(qid_col, wide: bool = False) -> F.Column:
    """Entity node id in [0, 2^61) (wide: [0, 2^122)) — always BELOW every
    mention node.

    Domain-aware numbering: with entity ids ordered below mention ids the
    bipartite assignment graph is *already* star-shaped around its
    component minimum, so large-star/small-star converges in one confirm
    pass instead of O(log n) rounds — a pure node-labeling trick, no
    change to the CC operator.  ``wide=True`` (PipelineParams.wide_ids)
    selects the 122-bit decimal composite for 10^12-doc scale."""
    if wide:
        return _wide_id("e", qid_col)
    return F.pmod(F.xxhash64(F.lit("e"), qid_col), F.lit(_NODE_SPACE))


def mention_node(doc_id_col, span_idx_col, wide: bool = False) -> F.Column:
    """Mention node id in [2^61, 2^62) (wide: [2^122, 2^123))."""
    if wide:
        import decimal as _dec

        return (
            _wide_id("m", doc_id_col, span_idx_col)
            + F.lit(_dec.Decimal(1 << 122)).cast("decimal(38,0)")
        ).cast("decimal(38,0)")
    return F.pmod(
        F.xxhash64(F.lit("m"), doc_id_col, span_idx_col), F.lit(_NODE_SPACE)
    ) + F.lit(_NODE_SPACE)


# ----------------------------------------------- id-granular scale plan

def er_ids_plan(
    documents: DataFrame | None,
    kb: DataFrame,
    params: PipelineParams = PipelineParams(),
    pin=lambda df: df.localCheckpoint(eager=True),
    mention_spans: DataFrame | None = None,
) -> DataFrame:
    """The 100-TB-shaped ER plan: every per-occurrence computation that is
    really a function of the mention TEXT runs at the coarsest granularity
    that preserves semantics.

    Round-2's plan normalized and blocking-keyed every occurrence (8.75M
    rows at the 1M-doc bench) and re-scanned + re-exploded the documents
    parquet once per consumer; the SQL-metrics profile showed that single
    fused scan->explode->normalize->block_key->distinct pipeline costing
    ~1,260 of the job's ~2,900 task-seconds.  Granularity ladder here:

      occurrences (8.75M): explode + xxhash64 ids ONLY — pinned once as
          (doc_id, span_idx, node, raw_id);
      distinct raw texts (~1M): normalize (translate + phrase fixups +
          regex folds) runs here, ~9x less text than per-occurrence;
      distinct normalized texts (~0.8M): block_key (split + array_sort)
          and the blocking join run here;
      signatures x candidates: scoring (the python stage) and top-k.

    Everything fans back out through 64-bit-id hash joins; strings never
    enter a per-occurrence shuffle.  ``pin`` materializes the two
    multi-consumer frames (occurrences, ranked sigs chain inputs) —
    localCheckpoint for benches, snapshots for the durable runner."""
    wide = params.wide_ids
    raw_id = (lambda: _wide_id("raw", "raw")) if wide else (
        lambda: F.xxhash64(F.lit("raw"), "raw"))
    nm_id = (lambda c: _wide_id("nm", c)) if wide else (
        lambda c: F.xxhash64(F.lit("nm"), c))
    # ``mention_spans``: a caller-materialized (doc_id, span_idx, raw)
    # mention table (r6) — skips the spans explode AND the separate occ
    # pin below: projections of an already-pinned slim table are cheaper
    # to recompute per consumer than to persist again.
    pre_extracted = mention_spans is not None
    if pre_extracted:
        spans = mention_spans.select("doc_id", "span_idx", "raw")
    else:
        spans = (
            documents.select(
                "doc_id", F.posexplode("spans").alias("span_idx", "span"))
            .where(F.col("span.kind") == "mention")
            .select("doc_id", "span_idx", F.col("span.text").alias("raw"))
        )
    # normalize at distinct-RAW granularity; key at distinct-NORM.
    # raws pins FIRST, from its own pass over the scan (the distinct
    # collapses to ~1 row per 9 occurrences before anything materializes)
    # so the occurrence pin below never carries the raw TEXT — r4: the
    # occ frame is the job's largest pinned table and every byte in it is
    # re-read by each downstream consumer; dropping the string column
    # cut it ~40%.  Cost: one extra scan+explode of the (columnar,
    # compressed) documents source — cheap next to the reads it saves.
    raws = pin(
        spans.select("raw").distinct()
        .select(
            raw_id().alias("raw_id"),
            normalize_col(F.col("raw")).alias("norm_mention"),
        )
        .withColumn("nm_id", nm_id(F.col("norm_mention")))
    )
    occ = spans.select(
        "doc_id", "span_idx",
        mention_node(F.col("doc_id"), F.col("span_idx"), wide).alias("node"),
        raw_id().alias("raw_id"),
    )
    if not pre_extracted:
        occ = pin(occ)
    norms = (
        raws.select("norm_mention").distinct()
        .withColumn("block_key", block_key_col(F.col("norm_mention")))
    )
    # norms is distinct-by-construction and the KB side is unique per
    # (block_key, norm_alias, qid) — assume_unique skips two exchanges
    sig_scores = pin(score_pair_sigs(
        candidate_signatures(norms, kb, params, assume_unique=True), kb))
    sig_ranked = rank_signature_scores(sig_scores, params)
    # The clustering stage consumes ONLY each signature's winning entity
    # (rank 1 above threshold) — so reduce to the winner AND encode its
    # entity node id while still at signature granularity (r4, r3 VERDICT
    # next-round #1: the fan-outs previously shipped all top-k rows with
    # qid STRINGS + score + rank per occurrence — 10x the rows at ~5x the
    # bytes/row; now both fan-out joins move two 8-byte ids per row and
    # qid strings never leave the signature table).
    n_sigs = sig_scores.count()
    best = sig_ranked.where(
        (F.col("rank") == 1) & (F.col("score") >= params.score_threshold)
    ).select(
        nm_id(F.col("norm_mention")).alias("nm_id"),
        entity_node(F.col("qid"), wide).alias("dst"),
    )
    # compose (nm_id -> winning entity node) with (raw_id -> nm_id), then
    # fan out to occurrences on raw_id — both joins strategy-aware; the
    # compose result is pinned so the occurrence fan-out picks
    # broadcast/salted from an EXACT build-side count (n_sigs upper-bounds
    # the first join's build side)
    raw_best = pin(_fanout_join(
        raws.select("raw_id", "nm_id"), best,
        "nm_id", "auto", n_sigs, 10_000_000, 16, 1_000_000,
        probe_salt_cols=["raw_id"],
    ).select("raw_id", "dst"))
    edges = _fanout_join(
        occ.select("node", "raw_id"), raw_best,
        "raw_id", "auto", raw_best.count(), 10_000_000, 16, 1_000_000,
        probe_salt_cols=["node"],
    ).select(F.col("node").alias("src"), "dst")
    # emit_isolated=False: the left join + coalesce below already labels
    # unmatched mentions as singletons, so CC's own isolated-node pass
    # (three shuffles over 2x the edges) is redundant here.
    # edges_unique=True: each occurrence node carries at most ONE edge
    # (raw_best is <=1 row per raw_id — rank==1 — and occ nodes are
    # unique), so CC skips its canonical dedup exchange (r6)
    comps = connected_components(
        edges, params.cc_max_iterations, emit_isolated=False,
        edges_unique=True)
    return (
        occ.select("doc_id", "span_idx", "node")
        .join(comps, "node", "left")
        .select(
            "doc_id", "span_idx",
            F.coalesce("component", "node").alias("cluster_id"),
        )
    )


# ------------------------------------------------------------------ S5

def rank_and_edges(
    scored: DataFrame, params: PipelineParams = PipelineParams()
) -> tuple[DataFrame, DataFrame]:
    """S5: per-mention top-k + threshold -> (assignments, edges).

    Deterministic order (score desc, qid asc) mirrors the reference's
    first-index-wins argmax (`entity_disambiguation/eval.py:218`).
    An alias may hit the same (mention, qid) via several alias rows —
    collapse to the max score per pair first (cheap partial agg before the
    window shuffle).
    Edges are mention-node <-> entity-node (bipartite); node ids are
    xxhash64 of the typed keys.  (At 10^12 mentions a 64-bit space expects
    rare collisions — the production variant widens to a (hash_hi, hash_lo)
    composite; same algorithm.)
    """
    per_pair = scored.groupBy("doc_id", "span_idx", "qid").agg(
        F.max("score").alias("score")
    )
    ranked = top_k_per_group(
        per_pair,
        ["doc_id", "span_idx"],
        [F.desc("score"), F.asc("qid")],
        params.top_k,
    )
    assignments = ranked.where(
        (F.col("rank") == 1) & (F.col("score") >= params.score_threshold)
    ).select("doc_id", "span_idx", "qid", "score")
    edges = assignments.select(
        mention_node(F.col("doc_id"), F.col("span_idx"),
                     params.wide_ids).alias("src"),
        entity_node(F.col("qid"), params.wide_ids).alias("dst"),
    )
    return ranked, edges


# ------------------------------------------------------------------ S6

def cluster_mentions(
    mentions: DataFrame,
    edges: DataFrame,
    params: PipelineParams = PipelineParams(),
    workdir: str | None = None,
) -> DataFrame:
    """S6: connected components over mention<->entity edges -> cluster ids.

    Every mention gets a cluster: matched mentions inherit their
    component's min node id; unmatched mentions become singletons (their
    own node hash).  Output: (doc_id, span_idx, cluster_id:long).
    ``workdir`` makes each CC iteration durably resumable (see
    ``connected_components``)."""
    comps = connected_components(edges, params.cc_max_iterations,
                                 workdir=workdir)
    m = mentions.select(
        "doc_id", "span_idx",
        mention_node(F.col("doc_id"), F.col("span_idx"),
                     params.wide_ids).alias("node"),
    )
    return (
        m.join(comps, "node", "left")
        .select(
            "doc_id", "span_idx",
            F.coalesce("component", "node").alias("cluster_id"),
        )
    )


# ------------------------------------------------------------------ S7

def verify_span_invariant(
    documents_in: DataFrame, documents_out: DataFrame
) -> int:
    """Count docs whose output span sequence (kind, text, media_ref, order)
    differs from the input — must be 0.  Offsets excluded per the driver
    invariant; order = array position."""
    proj = F.transform(
        "spans",
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )
    a = documents_in.select("doc_id", proj.alias("seq_in"))
    b = documents_out.select("doc_id", proj.alias("seq_out"))
    return (
        a.join(b, "doc_id", "full")
        .where(
            F.col("seq_in").isNull()
            | F.col("seq_out").isNull()
            | (F.col("seq_in") != F.col("seq_out"))
        )
        .count()
    )


# ------------------------------------------------------------------ runner

def _df_identity(df: DataFrame) -> str:
    """Cheap (action-free) identity of a DataFrame's INPUT DATA.

    Always folds the ANALYZED LOGICAL PLAN string (ADVICE r2: a filtered
    read over the same files must not hash equal to the raw read) plus,
    for file-backed plans, the sorted source file list — parquet part
    files are content-addressed-ish (UUID names), so rewriting the input
    changes the identity even when the plan text is stable.  Feeds
    snapshot input_hash so resume skips a stage only when its actual
    inputs are unchanged (ADVICE r1: constant labels silently reused
    stale snapshots across different inputs)."""
    import re as _re

    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    # expression ids (col#123L) are session-assigned — strip them so the
    # same logical construction hashes identically across sessions.
    # Anchored to Spark's exprId syntax (ADVICE r3: a bare `#\d+` also ate
    # string literals containing '#<n>', letting two plans differing only
    # in such a literal hash identically): an exprId follows an identifier
    # char and is not itself followed by more identifier chars.  NB this
    # anchoring changes the identity scheme — pre-r4 workdir snapshots
    # hash-miss once and recompute.
    plan = _re.sub(
        r"(?<=[A-Za-z0-9_)\]])#\d+L?\b",
        "#",
        df._jdf.queryExecution().analyzed().toString(),
    )
    key = json.dumps([files, plan, df.schema.simpleString()])
    return hashlib.sha256(key.encode()).hexdigest()[:16]


def run_pipeline(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    workdir: str | None = None,
    params: PipelineParams = PipelineParams(),
    resume: bool = True,
) -> dict:
    """End-to-end run with optional checkpoint-resume.

    ``tables``: documents, kb_aliases, entity_vectors [, redirects,
    wikimedia_filter].  When ``workdir`` is set, every stage snapshot +
    manifest lands under it and completed stages are skipped on rerun
    (manifest input-hash match).  Returns dict with the result DataFrames
    and the counters.
    """
    params_hash = params.digest()
    counters: dict[str, int] = {}
    # stage hashes CHAIN: each stage's input_hash folds in the hashes of
    # the stages/tables it actually consumes, so changing any upstream
    # input invalidates every downstream snapshot
    stage_hash: dict[str, str] = {}

    def stage(name: str, make, input_ids: list[str]):
        full_hash = hashlib.sha256(
            ":".join([name, *input_ids, params_hash]).encode()
        ).hexdigest()[:16]
        stage_hash[name] = full_hash
        if workdir is None:
            # no snapshot dir: still cut lineage so multi-consumer stages
            # (mentions feeds S2 and S6) execute once
            return make().localCheckpoint(eager=True), None
        path = os.path.join(workdir, name)
        if resume and snapshot_is_valid(path, name, full_hash):
            return read_snapshot(spark, path), path
        df = make()
        write_snapshot(df, path, name, full_hash)
        return read_snapshot(spark, path), path

    docs_id = _df_identity(tables["documents"])
    kb_id = ":".join(
        _df_identity(tables[t]) for t in ("kb_aliases", "entity_vectors")
        if t in tables
    ) + ":".join(
        _df_identity(tables[t]) for t in ("redirects", "wikimedia_filter")
        if tables.get(t) is not None
    )

    kb = prepare_kb(
        tables["kb_aliases"], tables["entity_vectors"],
        tables.get("redirects"), tables.get("wikimedia_filter"),
    )

    mentions, _ = stage(
        "s1_mentions",
        lambda: extract_mentions(tables["documents"], with_vec=False),
        [docs_id])
    counters["mentions_extracted"] = mentions.count()

    sigs, _ = stage(
        "s2_pair_sigs",
        lambda: candidate_signatures(mentions, kb, params),
        [stage_hash["s1_mentions"], kb_id])
    counters["pairs_scored"] = sigs.count()   # distinct signatures scored

    sig_scores, _ = stage(
        "s4_sig_scores", lambda: score_pair_sigs(sigs, kb),
        [stage_hash["s2_pair_sigs"]])

    # rank at signature granularity, THEN fan out: identical rows to the
    # old rank-after-attach (rank is occurrence-independent), but the
    # window shuffles the tiny signature table, not every occurrence
    ranked, _ = stage(
        "s5_ranked",
        lambda: attach_sig_scores(
            mentions, rank_signature_scores(sig_scores, params),
            sig_rows=counters["pairs_scored"]),
        [stage_hash["s4_sig_scores"], stage_hash["s1_mentions"]])
    counters["candidates_generated"] = ranked.count()

    edges = ranked.where(
        (F.col("rank") == 1) & (F.col("score") >= params.score_threshold)
    ).select(
        mention_node(F.col("doc_id"), F.col("span_idx")).alias("src"),
        entity_node(F.col("qid")).alias("dst"),
    )
    counters["edges_kept"] = edges.count()

    clusters, _ = stage(
        "s6_clusters",
        lambda: cluster_mentions(
            mentions, edges, params,
            workdir=(os.path.join(workdir, "cc_iters")
                     if workdir is not None else None)),
        [stage_hash["s5_ranked"], stage_hash["s1_mentions"]])
    counters["n_clusters"] = clusters.select("cluster_id").distinct().count()

    # span invariant, against something that can actually violate it
    # (ADVICE r1: comparing the input to itself was vacuous):
    #  - with a workdir: documents round-tripped through the snapshot
    #    write/read path must preserve every span sequence;
    #  - without: every cluster row must reference a real mention span of
    #    the input (doc_id, span_idx) — no orphaned/duplicated outputs.
    if workdir is not None:
        docs_rt, _ = stage(
            "s0_documents", lambda: tables["documents"], [docs_id])
        bad = verify_span_invariant(tables["documents"], docs_rt)
    else:
        valid_spans = (
            tables["documents"]
            .select("doc_id",
                    F.posexplode("spans").alias("span_idx", "span"))
            .where(F.col("span.kind") == "mention")
            .select("doc_id", "span_idx")
        )
        bad = clusters.join(
            valid_spans, ["doc_id", "span_idx"], "left_anti").count()
    counters["span_invariant_violations"] = bad

    if workdir is not None:
        with open(os.path.join(workdir, "_counters.json"), "w") as f:
            json.dump(counters, f, indent=1)

    return {
        "mentions": mentions,
        "pair_sigs": sigs,
        "sig_scores": sig_scores,
        "ranked": ranked,
        "clusters": clusters,
        "counters": counters,
    }
