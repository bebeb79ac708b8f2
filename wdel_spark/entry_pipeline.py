"""Flagship entry: the ER pipeline over /root/testdata documents.

The driver's flat ``documents(doc_id, text, lang, source, n_chars)`` table
lacks the interleaved ``spans`` column of the pipeline's input hint, so we
*derive* it deterministically (engine-portable md5 partitioning of token
positions into text/mention/media kinds — reproducible in DuckDB SQL for
the oracle check), then run the full blocking → scoring → clustering
pipeline self-supervised: the KB is the corpus's own token vocabulary.
This is the ER-as-deduplication framing: repeated tokens across documents
resolve to the same vocabulary entity, naturally skewed (stopwords are hot
keys) — the same shuffle/skew profile as the synthetic corpus at scale.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as W

from wdel_spark.functions.textnorm import normalize_text, block_key
from wdel_spark.functions.scoring import hash_embed, EMBED_DIM
from wdel_spark.plans.pipeline import (
    PipelineParams,
    extract_mentions,
    block_candidates,
    score_pairs,
    cluster_mentions,
)


def derive_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat documents -> interleaved (doc_id, spans[]) table.

    Span kind from the first hex char of md5("<doc_id>:<pos>"):
    0-2 -> mention (3/16), 3 -> media (1/16), else text — identical
    semantics expressible in DuckDB for the oracle-checked span stats.
    Offsets are cumulative char positions (token lengths + single spaces).
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # small-file inputs arrive in a handful of splits; spread the
    # explode+window work across the cluster up front (one cheap shuffle
    # of the compact source rows, partitioned on the downstream key)
    npart = spark.sparkContext.defaultParallelism
    toks = d.repartition(npart, "doc_id").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(F.split("text", " +")).alias("pos", "tok"),
    )
    h = F.substring(
        F.md5(F.concat_ws(":", "doc_id", F.col("pos").cast("string"))), 1, 1
    )
    kind = (
        F.when(h.isin("0", "1", "2"), F.lit("mention"))
        .when(h == "3", F.lit("media"))
        .otherwise(F.lit("text"))
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    spans = toks.select(
        "doc_id",
        "pos",
        kind.alias("kind"),
        F.when(kind == "media", F.lit("")).otherwise(F.col("tok")).alias("text"),
        F.when(
            kind == "media",
            F.concat_ws("/", F.lit("img:/"), "doc_id",
                        F.col("pos").cast("string")),
        ).otherwise(F.lit("")).alias("media_ref"),
        F.coalesce(
            F.sum(F.length("tok") + 1).over(w), F.lit(0)
        ).cast("int").alias("offset"),
    )
    return spans.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("pos", "kind", "text", "media_ref", "offset")
                )
            ),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans")
    )


def derive_mention_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat documents -> the MENTION token table (doc_id, span_idx, raw)
    directly, skipping the nested spans array (r6, guide §2.4).

    Identical rows to ``derive_spans_documents`` followed by
    explode+filter(kind=='mention'): the spans array holds one entry per
    token ordered by ``pos``, so the posexplode index over it equals the
    token position — ``span_idx == pos`` — and the mention predicate is
    the same md5 rule.  What this skips is everything the ER path never
    reads: the per-token offset window (one sort), the
    collect_list/array_sort re-nest (one full shuffle of every token
    struct), and the downstream re-explode of that array per consumer.
    Media/span-stats queries still use ``derive_spans_documents`` — they
    need the media spans and the nested shape."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the source is a one-row-group file -> one scan task; spread the
    # explode + md5 across the cluster (one cheap shuffle of compact rows)
    npart = spark.sparkContext.defaultParallelism
    toks = d.repartition(npart, "doc_id").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(F.split("text", " +")).alias("span_idx", "raw"),
    )
    h = F.substring(
        F.md5(F.concat_ws(":", "doc_id", F.col("span_idx").cast("string"))),
        1, 1)
    return toks.where(h.isin("0", "1", "2"))


_KB_SCHEMA = (
    "qid string, alias string, norm_alias string, block_key string, "
    "lang string, is_label boolean"
)
_KB_VEC_SCHEMA = _KB_SCHEMA + ", e_vec array<float>"


def derive_vocab_kb(spark: SparkSession, docs_spans: DataFrame,
                    decoys: bool = False) -> tuple[DataFrame, DataFrame]:
    """KB = the corpus's own mention vocabulary.

    One entity per distinct normalized mention text; qid = md5-derived.
    Featurization through the same kernels as the real KB (mapInPandas,
    no per-row Python).  Returns (kb_aliases, entity_vectors).

    ``decoys=True`` (r4 VERDICT next-round #4, used by the recall@k
    query) additionally injects, for the deterministic 1/16 of vocab
    entries where md5(norm)[0] == '0', a DECOY entity with the SAME
    alias text but qid 'A'+md5(norm)[:12].  The decoy's alias and
    embedding are byte-identical to gold's, so it ties on score and the
    deterministic tie-break (score desc, qid asc — 'A...' < 'T...')
    ranks it FIRST: gold lands at rank 2 for exactly that subset, making
    the recall@k histogram falsifiable in both directions — the oracle
    derives the expected ranks from this injection rule instead of
    stating recall ≡ 1."""
    combined = derive_vocab_kb_df(spark, docs_spans, decoys=decoys)
    kb_aliases = combined.drop("e_vec")
    entity_vectors = (
        combined.select("qid", F.col("e_vec").alias("vec"))
        .dropDuplicates(["qid"])
    )
    return kb_aliases, entity_vectors


def derive_vocab_kb_df(spark: SparkSession, docs_or_mentions: DataFrame,
                       decoys: bool = False) -> DataFrame:
    """Single-frame vocab KB: (qid, alias, norm_alias, block_key, lang,
    is_label, e_vec) with the embedding computed IN THE SAME Arrow batch
    as the featurization (r6, guide §2.3/§2.4): the former
    two-python-stage + qid-join formulation shuffled the alias table
    twice (dropDuplicates(qid) + the join exchange) and paid a second
    Python stage purely to attach a vector that is a pure function of the
    norm already in hand.  Output rows are identical — ``hash_embed`` is
    the same kernel, and duplicate (qid, norm_alias) rows carry identical
    vectors so the final dedup keeps the same values."""
    if "spans" in docs_or_mentions.columns:
        vocab = (
            docs_or_mentions.select(F.explode("spans").alias("s"))
            .where(F.col("s.kind") == "mention")
            .select(F.col("s.text").alias("alias"))
            .distinct()
        )
    else:
        vocab = docs_or_mentions.select(
            F.col("raw").alias("alias")).distinct()

    def feat(batches):
        import hashlib

        for pdf in batches:
            norms = [normalize_text(t) for t in pdf["alias"]]
            digs = [hashlib.md5(n.encode()).hexdigest() for n in norms]
            qids = ["T" + d[:12] for d in digs]
            aliases = list(pdf["alias"])
            if decoys:
                for a, n, d in zip(list(pdf["alias"]), norms, digs):
                    if d[0] == "0":
                        qids.append("A" + d[:12])
                        aliases.append(a)
                        norms.append(n)
            vs = hash_embed(norms, EMBED_DIM)
            yield pd.DataFrame({
                "qid": qids,
                "alias": aliases,
                "norm_alias": norms,
                "block_key": [block_key(n) for n in norms],
                "lang": ["en"] * len(qids),
                "is_label": [True] * len(qids),
                "e_vec": [v.tolist() for v in vs],
            })

    return vocab.mapInPandas(feat, schema=_KB_VEC_SCHEMA).dropDuplicates(
        ["qid", "norm_alias"])


def _pin_mem(df: DataFrame) -> DataFrame:
    """Materialize a SMALL multi-consumer frame in executor memory.

    Replaces the eager ``localCheckpoint`` this path used through round 2:
    localCheckpoint routes every block through the block manager's disk
    tier on eviction, and with ``spark.local.dir`` on the throttled block
    device four eager materializations dominated the sf0.1 flagship bench
    (r2 VERDICT #2: 22 s -> 39 s regression).  MEMORY_ONLY persist + one
    count gives the same evaluate-once semantics for frames that are tiny
    at test scale; the checkpointed runner (``run_pipeline`` /
    ``run_er_from_parquet(workdir=...)``) remains the durable path for
    frames that must survive executor loss."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_ONLY)
    df.count()
    return df


def _pin_mem_lazy(df: DataFrame) -> DataFrame:
    """MEMORY_ONLY persist WITHOUT the eager count (r6).

    The eager count per pin is a full extra job launch each; a lazy
    persist still evaluates the frame once — the cache populates on
    first use, and every pinned frame on the testdata paths is either
    followed by its own count (n_sigs, the fan-out strategy counts) or
    consumed inside a single downstream job.  Interleaved A/Bs at
    sf1.0: er_recall_at_k 3.42/4.56/4.43 -> 1.50/1.58/1.61 s; flagship
    e2e 6.30/6.44/7.05 -> 5.62/5.91/5.95 s (mt+kb) and 6.52/6.76/7.09
    -> 6.15/6.29/6.50 s (er_ids_plan pins, separate windows).  The
    durable stored-corpus runner keeps eager localCheckpoint pins —
    snapshot/resume semantics need materialization at stage
    boundaries."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_ONLY)


def er_ranked_over_testdata(
    spark: SparkSession,
    sf_dir: str,
    params: PipelineParams = PipelineParams(),
    decoys: bool = False,
    sig_level: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Blocking -> scoring -> per-mention ranking over the derived corpus.

    Default: returns ``(mentions, ranked)`` where ``ranked`` carries
    (doc_id, span_idx, qid, score, rank) — the candidate-generation
    surface the recall@k metric (reference `utils/io.py:20-50`,
    `prediction.py:64-72`) evaluates.

    ``sig_level=True`` (r6, guide §8 "decide with small rows"): returns
    ``(norm_counts, ranked_sigs)`` — (norm_mention, n_occ) occurrence
    counts and the SIGNATURE-granularity ranking (norm_mention, qid,
    score, rank).  A mention occurrence's candidate list, scores, ranks
    and gold qid are all pure functions of its normalized text, so any
    per-occurrence aggregate of ranks is a count-weighted aggregate of
    per-signature ranks; the occurrence fan-out join (|occurrences| x k
    rows) is skipped entirely."""
    from wdel_spark.functions.textnorm import block_key_col, normalize_col
    from wdel_spark.plans.pipeline import (
        candidate_signatures, score_pair_sigs, attach_sig_scores,
        rank_signature_scores)

    # sig_level consumers act exactly once at the end — lazy pins skip
    # one full job launch per pin (see _pin_mem_lazy)
    pin = _pin_mem_lazy if sig_level else _pin_mem
    mt = pin(derive_mention_tokens(spark, sf_dir))
    kb = pin(derive_vocab_kb_df(spark, mt, decoys=decoys))
    # same rows as extract_mentions(derive_spans_documents(...)) — see
    # derive_mention_tokens: span_idx == token pos, mention == raw token.
    # normalize runs at distinct-RAW granularity and fans out through a
    # join (the er_ids_plan ladder, guide §2.3): norm/block_key are pure
    # functions of the raw text, so per-occurrence values are identical
    raws = (
        mt.select("raw").distinct()
        .select(
            F.col("raw").alias("mention"),
            normalize_col(F.col("raw")).alias("norm_mention"),
        )
        .withColumn("block_key", block_key_col(F.col("norm_mention")))
    )
    norms = raws.select("norm_mention", "block_key").distinct()
    sig_scores = score_pair_sigs(
        candidate_signatures(norms, kb, params, assume_unique=True), kb)
    if not sig_level:
        sig_scores = _pin_mem(sig_scores)
    if sig_level:
        norm_counts = (
            mt.groupBy(F.col("raw").alias("mention"))
            .agg(F.count("*").alias("n_occ"))
            .join(raws.select("mention", "norm_mention"), "mention")
            .groupBy("norm_mention")
            .agg(F.sum("n_occ").alias("n_occ"))
        )
        return norm_counts, rank_signature_scores(sig_scores, params)
    mentions = _pin_mem(
        mt.select("doc_id", "span_idx", F.col("raw").alias("mention"))
        .join(raws, "mention")
        .select("doc_id", "span_idx", "mention", "norm_mention",
                "block_key"))
    ranked = attach_sig_scores(
        mentions, rank_signature_scores(sig_scores, params),
        sig_rows=sig_scores.count())
    return mentions, ranked


def er_over_testdata(
    spark: SparkSession,
    sf_dir: str,
    params: PipelineParams = PipelineParams(),
) -> DataFrame:
    """Full ER pipeline over the derived corpus; returns the cluster table
    (doc_id, span_idx, cluster_id) via the granularity-laddered id plan
    (cluster-identical to the string path — pinned by
    test_id_slim_runner_matches_string_path and the er_cluster_partition
    oracle)."""
    from wdel_spark.plans.pipeline import er_ids_plan

    mt = _pin_mem_lazy(derive_mention_tokens(spark, sf_dir))
    kb = _pin_mem_lazy(derive_vocab_kb_df(spark, mt))
    return er_ids_plan(None, kb, params, pin=_pin_mem_lazy,
                       mention_spans=mt)


def entry_flagship(spark: SparkSession) -> DataFrame:
    return er_over_testdata(spark, "/root/testdata/sf0.001")


def materialize_corpus(
    spark: SparkSession,
    n_docs: int,
    n_entities: int,
    out_dir: str,
    n_partitions: int = 64,
) -> None:
    """Write the synthetic corpus + KB to parquet once (the stand-in for
    the production Iceberg table the pipeline would read).  Idempotent:
    skipped when a matching manifest exists."""
    import json as _json
    import os as _os

    from wdel_spark.datagen import CorpusConfig, gen_corpus_spark

    meta_path = _os.path.join(out_dir, "_corpus.json")
    want = {"n_docs": n_docs, "n_entities": n_entities, "seed": 42}
    if _os.path.exists(meta_path):
        try:
            if _json.load(open(meta_path)) == want:
                return
        except Exception:
            pass
    cfg = CorpusConfig(n_docs=n_docs, n_entities=n_entities)
    t = gen_corpus_spark(spark, cfg, n_partitions=n_partitions)
    for name in ("documents", "kb_aliases", "entity_vectors", "redirects",
                 "wikimedia_filter"):
        t[name].write.mode("overwrite").parquet(
            _os.path.join(out_dir, name))
    with open(meta_path, "w") as f:
        _json.dump(want, f)


def run_er_from_parquet(
    spark: SparkSession,
    corpus_dir: str,
    params: PipelineParams = PipelineParams(),
    workdir: str | None = None,
    resume: bool = True,
) -> DataFrame:
    """The measured pipeline: read the stored interleaved corpus + KB
    (columnar scan, no python) -> extract -> block -> score -> rank -> CC.

    ``workdir`` routes the run through the checkpoint-resumable snapshot
    layer (``run_pipeline``): every stage lands as a durable parquet
    snapshot with manifest + lineage counters, and a rerun resumes from
    the last complete stage (r2 VERDICT #8 — the fault-tolerant path the
    stored-corpus runner previously bypassed via localCheckpoint).
    ``workdir=None`` keeps the in-memory mode for benches."""
    import os as _os

    from wdel_spark.plans.pipeline import prepare_kb, er_ids_plan, run_pipeline

    rd = lambda n: spark.read.parquet(_os.path.join(corpus_dir, n))
    if workdir is not None:
        tables = {n: rd(n) for n in (
            "documents", "kb_aliases", "entity_vectors", "redirects",
            "wikimedia_filter")}
        return run_pipeline(
            spark, tables, workdir=workdir, params=params, resume=resume,
        )["clusters"]
    kb = prepare_kb(rd("kb_aliases"), rd("entity_vectors"),
                    rd("redirects"), rd("wikimedia_filter")
                    ).localCheckpoint(eager=True)
    # the granularity-laddered id plan: normalize on distinct raw texts,
    # block-key on distinct norms, strings never in a per-occurrence
    # shuffle (see er_ids_plan docstring for the measured rationale).
    # Pin stays localCheckpoint here (NOT _pin_mem): a MEMORY_ONLY pin on
    # the stored-corpus job recomputes the whole upstream chain —
    # including the Python scorer — whenever unified-memory pressure
    # evicts a block (measured r4: 38.6 s -> 234 s at local[8], 7x CPU,
    # two ~300-cpu-s zero-input recompute stages); localCheckpoint blocks
    # spill to disk instead of recomputing
    return er_ids_plan(rd("documents"), kb, params)


def run_er_synthetic(
    spark: SparkSession,
    n_docs: int,
    n_entities: int,
    params: PipelineParams = PipelineParams(),
    n_partitions: int | None = None,
) -> DataFrame:
    """The real ER workload (synthetic interleaved corpus + KB) as one lazy
    plan without counter actions — the scaling-bench job."""
    from wdel_spark.datagen import CorpusConfig, gen_corpus_spark
    from wdel_spark.plans.pipeline import prepare_kb, er_ids_plan

    npart = n_partitions or spark.sparkContext.defaultParallelism * 2
    cfg = CorpusConfig(n_docs=n_docs, n_entities=n_entities)
    t = gen_corpus_spark(spark, cfg, n_partitions=npart)
    # the KB feeds several broadcasts — each broadcast would otherwise
    # re-evaluate the generation subplan; materialize it once
    kb = prepare_kb(t["kb_aliases"], t["entity_vectors"], t["redirects"],
                    t["wikimedia_filter"]).localCheckpoint(eager=True)
    return er_ids_plan(t["documents"], kb, params)
