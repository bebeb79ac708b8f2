"""The benchmark's workloads.

Each workload has a set-up (inputs and JIT warm-up, timed as
``setup_s``), a measured unit that the runner repeats in a closed loop,
correctness checks that run outside the timed section, and a traced
replay that calls the program's public layer functions one at a time.
"""

from __future__ import annotations

import gc
import json
import os
import time
from pathlib import Path
from statistics import median

from harness import (
    DATA_DIR, WORK_ROOT, cpu_count, cpu_seconds, frame_hash, group_counts,
    partition_fingerprint, same_block_pairwise_f1, source_digest, write_json,
)
from spans import NULL

HEADLINE_QUERIES = (
    "pricing_summary", "topk_orders_per_customer", "revenue_by_nation",
    "minmax_normalize", "softmax_per_user", "exact_dedup",
    "minhash_lsh_neardup", "simhash_neardup", "token_count", "token_window",
    "entity_hydrate_nested", "cosine_topk", "embedding_class_centroids",
    "embedding_neardup_banded", "er_recall_at_k",
)

SF_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings")

# pairs the n-gram Jaccard verify keeps (operators.dedup.verify_ratio)
JACCARD_KEEP = 0.5
SCORING_SAMPLE = 20_000

# the signature ER chain as er_layer_chain replays it
ER_CHAIN = (
    "functions.textnorm.normalize_col", "plans.candidate_signatures",
    "plans.score_pair_sigs", "functions.scoring",
    "plans.rank_signature_scores", "plans.attach_sig_scores",
    "operators.cc.connected_components",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _release(spark) -> None:
    spark.catalog.clearCache()
    gc.collect()


def write_corpus(cfg, out: Path, parts: int | None = None) -> dict:
    """Generate the synthetic corpus for ``cfg`` (seeded) and write it as
    parquet, without Spark.

    Uses the module's pandas generators, which emit the same rows as
    ``gen_corpus_spark`` (every row is a pure function of the seed and
    its index), so the runner can build the inputs while the JVM starts.
    The documents land in ``parts`` files (default: four per core) so
    the scan keeps its parallelism."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wdel_spark.datagen import gen_documents_pandas, gen_kb_pandas

    s = pa.string()
    span = pa.struct([("kind", s), ("text", s), ("media_ref", s),
                      ("offset", pa.int32())])
    schemas = {
        "documents": [("doc_id", s), ("spans", pa.list_(span))],
        "mention_gold": [("doc_id", s), ("span_idx", pa.int32()),
                         ("gold_qid", s)],
        "kb_aliases": [("qid", s), ("alias", s), ("norm_alias", s),
                       ("block_key", s), ("lang", s),
                       ("is_label", pa.bool_())],
        "entity_vectors": [("qid", s), ("vec", pa.list_(pa.float32()))],
        "redirects": [("src_qid", s), ("dst_qid", s)],
        "wikimedia_filter": [("qid", s)],
    }
    docs, gold = gen_documents_pandas(cfg)
    frames = {"documents": docs, "mention_gold": gold, **gen_kb_pandas(cfg)}
    for name, fields in schemas.items():
        table = pa.Table.from_pandas(frames[name], schema=pa.schema(fields),
                                     preserve_index=False)
        n = (parts or 4 * cpu_count()) if name == "documents" else 1
        step = max(1, -(-table.num_rows // n))
        (out / name).mkdir(parents=True)
        for i in range(n):
            pq.write_table(table.slice(i * step, step),
                           out / name / f"part-{i:05d}.parquet")
    return {"docs": len(docs), "mentions": len(gold),
            "entities": cfg.n_entities}


def counted(tracer, counters: dict, df, key: str = "rows_out"):
    """Count ``df`` outside every span and store it in ``counters``."""
    with tracer.aux():
        counters[key] = df.count()
    return counters[key]


def read_corpus(spark, corpus: Path):
    return lambda n: spark.read.parquet(str(corpus / n))


def prepared_kb(spark, corpus: Path):
    from wdel_spark.plans.pipeline import prepare_kb

    rd = read_corpus(spark, corpus)
    return prepare_kb(rd("kb_aliases"), rd("entity_vectors"),
                      rd("redirects"), rd("wikimedia_filter")
                      ).localCheckpoint(eager=True)


class Workload:
    name = ""
    min_units = 1
    max_units = 1
    # spans whose per-layer metrics the traced run must produce; the
    # other layers of BENCHMARK.json do not run in this workload
    layers: tuple[str, ...] = ()
    # writes seeded synthetic inputs (make_inputs) before set-up
    makes_inputs = False

    def __init__(self, spark, work: Path, seed: int, smoke: bool,
                 inject_error: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.inject_error = inject_error
        self.info: dict = {}

    def rebind(self, spark) -> None:
        self.spark = spark

    def untimed(self) -> None:
        """Jobs after this call are checks, not the measured unit."""
        self.spark.sparkContext.setJobGroup("pb-untimed", "perfbench checks")

    def make_inputs(self) -> None:
        """Write the workload's seeded synthetic inputs, recording their
        sizes in ``self.info``.  Runs without Spark, in a child process,
        while the JVM starts; a workload without one writes nothing."""

    def setup(self) -> None:
        """Spark-side set-up: warm-up and reference results."""
        raise NotImplementedError

    def unit(self, i: int, tracer=NULL) -> dict:
        """One measured operation chain; returns its timings.  Under a
        ``Tracer`` its public calls run in spans (the traced run)."""
        raise NotImplementedError

    def checks(self, units: list[dict]) -> list[tuple[str, bool, str]]:
        """(name, passed, detail) per correctness check."""
        raise NotImplementedError

    def metrics(self, units: list[dict]) -> dict:
        raise NotImplementedError

    def extra_groups(self, res: dict) -> list[str]:
        """Job groups besides the unit's own that ran the unit's jobs."""
        return []

    def trace(self, tracer) -> list[tuple[str, bool, str]]:
        """Replay the workload as its chain of public layer calls, after
        the traced unit; returns the checks of what the replay ran."""
        raise NotImplementedError


# ------------------------------------------------------------- ER chain

def er_layer_chain(tracer, spans_df, kb, params, *, string_keyed: bool,
                   prefix: str = "") -> None:
    """Replay the signature ER plan as public calls, one span each, every
    output pinned with an eager ``localCheckpoint`` inside its span.

    ``spans_df``: mention occurrences (doc_id, span_idx, raw) for the id
    plan (``string_keyed=False``), which normalizes the distinct raw
    texts and blocks the distinct normalized texts as ``er_ids_plan``
    does; the documents table for the string-keyed plan of
    ``run_pipeline``, which extracts per occurrence.  The id plan's
    private fan-out joins are replayed with the public
    ``attach_sig_scores``.  ``prefix`` goes before every span name."""
    import numpy as np
    from pyspark.sql import functions as F

    from wdel_spark.functions.scoring import (
        EMBED_DIM, hash_embed, pair_score_batch, seq_cosine_batch)
    from wdel_spark.functions.textnorm import block_key_col, normalize_col
    from wdel_spark.operators.cc import connected_components
    from wdel_spark.plans.pipeline import (
        attach_sig_scores, candidate_signatures, entity_node,
        extract_mentions, mention_node, rank_signature_scores,
        score_pair_sigs)

    pin = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    span = lambda name: tracer.span(prefix + name)  # noqa: E731
    if string_keyed:
        with span("plans.extract_mentions") as c:
            mentions = pin(extract_mentions(spans_df, with_vec=False))
        counted(tracer, c, mentions)
        probe = mentions
    else:
        with span("functions.textnorm.normalize_col") as c:
            raws = pin(
                spans_df.select("raw").distinct().select(
                    F.col("raw").alias("mention"),
                    normalize_col(F.col("raw")).alias("norm_mention")))
        n_raw = counted(tracer, c, raws)
        with tracer.aux():
            n_occ = spans_df.count()
            c["distinct_raw_ratio"] = n_raw / n_occ if n_occ else 0.0
            probe = pin(raws.select("norm_mention").distinct().withColumn(
                "block_key", block_key_col(F.col("norm_mention"))))
            mentions = pin(
                spans_df.select("doc_id", "span_idx",
                                F.col("raw").alias("mention"))
                .join(raws, "mention")
                .select("doc_id", "span_idx", "norm_mention"))
    with span("plans.candidate_signatures") as c:
        pair_sigs = pin(candidate_signatures(probe, kb, params,
                                             assume_unique=not string_keyed))
    counted(tracer, c, pair_sigs)
    with span("plans.score_pair_sigs") as c:
        sig_scores = pin(score_pair_sigs(pair_sigs, kb))
    counted(tracer, c, pair_sigs, "pairs_in")
    n_sigs = counted(tracer, c, sig_scores)
    # the scorer's kernels in this process over a sample of the real
    # signature pairs: kernel cost without the Arrow boundary
    with tracer.aux():
        evec = kb.select("qid", "e_vec").dropDuplicates(["qid"])
        sample = (pair_sigs.join(F.broadcast(evec), "qid")
                  .withColumn("lev", F.levenshtein("norm_mention",
                                                   "norm_alias"))
                  .limit(SCORING_SAMPLE).toPandas())
        ev = np.array([np.asarray(v, dtype=np.float32)
                       for v in sample["e_vec"]]).reshape(len(sample), -1)
    with span("functions.scoring") as c:
        t0 = time.perf_counter()
        norms = sample["norm_mention"].tolist()
        cos = seq_cosine_batch(hash_embed(norms, EMBED_DIM), ev)
        pair_score_batch(norms, sample["norm_alias"], cos,
                         lev=sample["lev"].to_numpy())
        dt = time.perf_counter() - t0
        c["rows_out"] = len(sample)
        c["pairs_per_s"] = len(sample) / dt
    with span("plans.rank_signature_scores") as c:
        ranked = pin(rank_signature_scores(sig_scores, params))
    counted(tracer, c, ranked)
    with span("plans.attach_sig_scores") as c:
        attached = pin(attach_sig_scores(mentions, ranked, sig_rows=n_sigs))
    counted(tracer, c, attached)
    with tracer.aux():
        edges = pin(attached.where(
            (F.col("rank") == 1)
            & (F.col("score") >= params.score_threshold)
        ).select(
            mention_node(F.col("doc_id"), F.col("span_idx")).alias("src"),
            entity_node(F.col("qid")).alias("dst")))
    with span("operators.cc.connected_components") as c:
        if string_keyed:  # as run_pipeline's cluster stage calls it
            comps = connected_components(edges, params.cc_max_iterations)
        else:             # as er_ids_plan calls it
            comps = connected_components(
                edges, params.cc_max_iterations, emit_isolated=False,
                edges_unique=True)
        comps = pin(comps)
    counted(tracer, c, comps)


# ------------------------------------------------- durable and streaming

def snapshot_footprint(wd: Path) -> dict:
    files = size = 0
    for dirpath, _dirs, names in os.walk(wd):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return {"bytes_written": size, "files": files}


def replay_durable(spark, tracer, corpus: Path, wd: Path, reference,
                   inject_error: bool) -> list[tuple[str, bool, str]]:
    """The durable path over ``corpus``: ``run_er_from_parquet(workdir=)``
    cold, then resumed over the complete workdir, with the snapshots it
    wrote read back.  Both partitions must equal ``reference`` (the
    in-memory plan's), and the span invariant must hold."""
    from wdel_spark.entry_pipeline import run_er_from_parquet
    from wdel_spark.sources.snapshot import read_snapshot

    # run_er_from_parquet(workdir=...) is run_pipeline over the corpus
    runs = {}
    for key, resume in (("cold_s", False), ("resume_s", True)):
        with tracer.span("plans.run_pipeline") as c:
            t0 = time.perf_counter()
            runs[key] = run_er_from_parquet(spark, str(corpus),
                                            workdir=str(wd), resume=resume)
            _noop(runs[key])
            c[key] = time.perf_counter() - t0
        counted(tracer, c, runs[key])
    with tracer.span("sources.snapshot.write_snapshot") as c:
        c.update(snapshot_footprint(wd))
    with tracer.span("sources.snapshot.read_snapshot") as c:
        stages = sorted(p.parent for p in wd.glob("*/_manifest.json"))
        for stage in stages:
            _noop(read_snapshot(spark, str(stage)))
        c["snapshots"] = len(stages)
    with tracer.aux():
        resumed = runs["resume_s"]
        if inject_error:
            from pyspark.sql import functions as F
            resumed = resumed.where(F.col("span_idx") % 5 != 0)
        cold = list(partition_fingerprint(runs["cold_s"]))
        warm = list(partition_fingerprint(resumed))
        counters = json.loads((wd / "_counters.json").read_text())
    bad = counters.get("span_invariant_violations")
    return [
        ("durable.cold_eq_resume", cold == warm, f"{cold} vs {warm}"),
        ("durable.cold_eq_in_memory", cold == reference,
         f"{cold} vs {reference}"),
        ("durable.span_invariant_violations_eq_0", bad == 0,
         f"violations={bad}"),
    ]


class BatchTimes:
    """StreamingQueryListener keeping each micro-batch's trigger time and
    input rows: with ``available_now`` the program returns no query
    handle, so the listener is the only view of the batches."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.batches: list[tuple[float, int]] = []
        self.run_ids: list[str] = []
        self.done = 0

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                outer.batches.append(
                    (p.durationMs.get("triggerExecution", 0) / 1e3,
                     p.numInputRows))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.done += 1

        self.listener = Listener()

    def wait(self, timeout: float = 30.0) -> None:
        """Listener events arrive asynchronously: wait for the drained
        query's termination event."""
        deadline = time.monotonic() + timeout
        while self.done < 1 and time.monotonic() < deadline:
            time.sleep(0.05)


def replay_stream(spark, tracer, corpus: Path, kb, work: Path,
                  n_files: int, reference) -> list[tuple[str, bool, str]]:
    """``corpus``'s documents as ``n_files`` files, drained through
    ``run_streaming_assignments`` one file per micro-batch, each batch's
    assignments folded into the cluster state with ``update_clusters``.
    The final partition must equal ``reference`` (the batch plan's)."""
    from pyspark.sql import functions as F

    from wdel_spark.plans.pipeline import entity_node, mention_node
    from wdel_spark.streaming import run_streaming_assignments
    from wdel_spark.streaming.stream_pipeline import update_clusters

    src, dst = work / "stream-in", work / "stream-out"
    with tracer.aux():
        spark.read.parquet(str(corpus / "documents")).repartition(
            n_files).write.parquet(str(src))
    times = BatchTimes()
    spark.streams.addListener(times.listener)
    try:
        with tracer.span("streaming.run_streaming_assignments") as c:
            run_streaming_assignments(
                spark, str(src), kb, str(dst / "assign"), str(dst / "ckpt"),
                max_files_per_trigger=1)
        # the query runs its jobs under its own run id
        with tracer.aux():
            times.wait()
        for run_id in times.run_ids:
            tracer.adopt(run_id)
    finally:
        spark.streams.removeListener(times.listener)
    batches = times.batches
    c["batches"] = len(batches)
    c["rows_per_batch"] = (sum(b[1] for b in batches) / len(batches)
                           if batches else 0.0)
    c["batch_p50_s"] = median(b[0] for b in batches) if batches else 0.0
    assigns = spark.read.parquet(str(dst / "assign"))
    with tracer.aux():
        ids = sorted(r[0] for r in
                     assigns.select("_batch_id").distinct().collect())
    comps = None
    for b in ids:
        edges = assigns.where(F.col("_batch_id") == b).select(
            mention_node(F.col("doc_id"), F.col("span_idx")).alias("src"),
            entity_node(F.col("qid")).alias("dst"))
        with tracer.span("streaming.update_clusters") as c:
            comps = update_clusters(spark, edges, str(dst / "state"))
    with tracer.aux():
        c["state_rows"] = comps.count()
        clusters = spark.read.parquet(str(corpus / "mention_gold")).select(
            "doc_id", "span_idx",
            mention_node(F.col("doc_id"), F.col("span_idx")).alias("node")
        ).join(comps, "node", "left").select(
            "doc_id", "span_idx",
            F.coalesce("component", "node").alias("cluster_id"))
        got = list(partition_fingerprint(clusters))
    return [
        ("stream.partition_eq_batch_plan", got == reference,
         f"{got} vs {reference}"),
        ("stream.every_file_a_batch", len(batches) >= n_files,
         f"{len(batches)} batches, {n_files} files"),
    ]


# ------------------------------------------------------------- er_stored

class ErStored(Workload):
    """The stored synthetic corpus through the in-memory id-keyed plan.

    Its traced run also replays, on a small corpus of the same seed, the
    durable snapshot path (cold and resumed, with the string-keyed chain)
    and the streaming path (one micro-batch per file, each folded into
    the cluster state)."""

    name = "er_stored"
    min_units = 1
    max_units = 6
    makes_inputs = True
    layers = ER_CHAIN + (
        "plans.prepare_kb", "entry_pipeline.run_er_from_parquet",
        "plans.run_pipeline", "sources.snapshot.write_snapshot",
        "sources.snapshot.read_snapshot",
        "streaming.run_streaming_assignments", "streaming.update_clusters",
    )

    def sizes(self) -> tuple[int, int]:
        """(documents, entities) of the measured corpus."""
        return (400, 300) if self.smoke else (20_000, 8_000)

    def mini_sizes(self) -> tuple[int, int, int]:
        """(documents, entities, stream files) of the replay corpus."""
        return (120, 120, 2) if self.smoke else (240, 200, 4)

    @property
    def corpus(self) -> Path:
        return self.work / "corpus"

    @property
    def mini(self) -> Path:
        return self.work / "mini"

    def make_inputs(self) -> None:
        from wdel_spark.datagen import CorpusConfig

        t0 = time.perf_counter()
        n_docs, n_ent = self.sizes()
        self.info.update(write_corpus(
            CorpusConfig(seed=self.seed, n_docs=n_docs, n_entities=n_ent),
            self.corpus))
        n_docs, n_ent, _files = self.mini_sizes()
        mini = write_corpus(
            CorpusConfig(seed=self.seed, n_docs=n_docs, n_entities=n_ent),
            self.mini, parts=cpu_count())
        self.info.update({f"replay_{k}": v for k, v in mini.items()})
        self.info["corpus_write_s"] = time.perf_counter() - t0

    def setup(self) -> None:
        from wdel_spark.entry_pipeline import run_er_from_parquet

        # JIT warm-up: the measured plan once over the same corpus.  Its
        # result is kept (checkpointed, so clearing the cache keeps it)
        # for the checks: every measured unit must reproduce it exactly
        self.reference = run_er_from_parquet(
            self.spark, str(self.corpus)).localCheckpoint(eager=True)

    @staticmethod
    def _digest_cols():
        from pyspark.sql import functions as F

        return (F.count(F.lit(1)).alias("rows"),
                F.bit_xor(F.xxhash64("doc_id", "span_idx", "cluster_id")
                          ).alias("digest"))

    def unit(self, i: int, tracer=NULL) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from wdel_spark.entry_pipeline import run_er_from_parquet

        # the sink discards the rows: an observation of the same pass
        # keeps their count and a digest of every (mention, cluster) row
        seen = Observation(f"pb-unit-{i}")
        c0, t0 = cpu_seconds(), time.perf_counter()
        with tracer.span("entry_pipeline.run_er_from_parquet"):
            clusters = run_er_from_parquet(self.spark, str(self.corpus))
            if self.inject_error and i == 0:
                clusters = clusters.withColumn(
                    "cluster_id",
                    F.when(F.col("span_idx") % 7 == 0, F.lit(-1))
                    .otherwise(F.col("cluster_id")))
            _noop(clusters.observe(seen, *self._digest_cols()))
        res = {"wall_s": time.perf_counter() - t0,
               "cpu_s": cpu_seconds() - c0}
        got = seen.get
        res["rows"], res["digest"] = int(got["rows"]), int(got["digest"] or 0)
        _release(self.spark)
        return res

    def checks(self, units):
        ref = self.reference
        row = ref.agg(*self._digest_cols()).first()
        rows, digest = int(row["rows"]), int(row["digest"] or 0)
        fp = list(partition_fingerprint(ref))
        read = self.spark.read.parquet
        f1 = same_block_pairwise_f1(
            ref, read(str(self.corpus / "documents")),
            read(str(self.corpus / "mention_gold")))
        out = [
            ("one_cluster_row_per_mention", rows == self.info["mentions"],
             f"{rows} rows, {self.info['mentions']} mentions"),
            ("pairwise_f1_ge_0.99", f1 >= 0.99, f"f1={f1:.6f}"),
        ]
        for i, u in enumerate(units):
            out.append((f"unit{i}.output_eq_warmup",
                        (u["rows"], u["digest"]) == (rows, digest),
                        f"{(u['rows'], u['digest'])} vs {(rows, digest)}"))
        # the partition must also equal earlier runs' of the same program
        # version on the same inputs; the first passing run keeps it
        path = WORK_ROOT / "fingerprints" / "er_stored-{}-{}-{}x{}.json" \
            .format(source_digest(), self.seed, *self.sizes())
        if path.exists():
            earlier = json.loads(path.read_text())
            out.append(("partition_eq_earlier_runs", fp == earlier,
                        f"{fp} vs {earlier}"))
        elif all(ok for _n, ok, _d in out):
            write_json(path, fp)
        self.info["fingerprint"] = fp
        self.info["pairwise_f1"] = f1
        return out

    def metrics(self, units):
        wall = median([u["wall_s"] for u in units])
        return {
            "wall_s": (wall, "s"),
            "mentions_per_s": (self.info["mentions"] / wall, "1/s"),
            "pairwise_f1": (self.info["pairwise_f1"], "ratio"),
        }

    def trace(self, tracer):
        from pyspark.sql import functions as F

        from wdel_spark.entry_pipeline import run_er_from_parquet
        from wdel_spark.plans.pipeline import PipelineParams

        spark = self.spark
        params = PipelineParams()
        rd = read_corpus(spark, self.corpus)
        # the id-keyed chain over the measured corpus; the traced unit's
        # span covers er_ids_plan's private fan-out joins
        with tracer.span("er_stored"):
            with tracer.span("plans.prepare_kb") as c:
                kb = prepared_kb(spark, self.corpus)
            counted(tracer, c, kb)
            with tracer.aux():
                spans_df = rd("documents").select(
                    "doc_id", F.posexplode("spans").alias("span_idx", "s")
                ).where(F.col("s.kind") == "mention").select(
                    "doc_id", "span_idx", F.col("s.text").alias("raw")
                ).localCheckpoint(eager=True)
            er_layer_chain(tracer, spans_df, kb, params, string_keyed=False)
        _release(spark)
        # the durable and streaming paths over the small corpus, both
        # checked against the in-memory plan's partition on it
        with tracer.aux():
            mem = run_er_from_parquet(spark, str(self.mini)).persist()
            reference = list(partition_fingerprint(mem))
            mem.unpersist()
            kb = prepared_kb(spark, self.mini)
        with tracer.span("er_durable"):
            out = replay_durable(spark, tracer, self.mini,
                                 self.work / "durable", reference,
                                 self.inject_error)
            er_layer_chain(tracer, read_corpus(spark, self.mini)("documents"),
                           kb, params, string_keyed=True, prefix="durable.")
        with tracer.span("er_stream"):
            out += replay_stream(spark, tracer, self.mini, kb, self.work,
                                 self.mini_sizes()[2], reference)
        _release(spark)
        return out


# ------------------------------------------------------------- contract

class ContractSf01(Workload):
    """The frozen ``bench.py`` mix: the flagship, then 15 headline queries,
    over a copy of the sf0.1 test tables."""

    name = "contract_sf01"
    min_units = 1
    max_units = 3
    layers = ER_CHAIN + (
        "entry_pipeline.er_over_testdata",
        "entry_pipeline.derive_mention_tokens",
        "entry_pipeline.derive_vocab_kb_df", "operators.dedup",
    ) + tuple(f"queries.{n}" for n in HEADLINE_QUERIES)

    def setup(self) -> None:
        from wdel_spark.entry_pipeline import er_over_testdata

        # bench.py's JIT warm-up: the flagship on the smallest sibling
        er_over_testdata(self.spark, str(DATA_DIR / "sf0.001")).count()
        _release(self.spark)
        self.info["docs"] = self.spark.read.parquet(
            f"{self.sf}/documents.parquet").count()

    @property
    def sf(self) -> str:
        return str(DATA_DIR / ("sf0.001" if self.smoke else "sf0.1"))

    def unit(self, i: int, tracer=NULL) -> dict:
        from pyspark.sql import functions as F

        from wdel_spark.entry_pipeline import er_over_testdata
        from wdel_spark.queries import REGISTRY

        spark = self.spark
        c0, t0 = cpu_seconds(), time.perf_counter()
        # timed as bench.py times it
        with tracer.span("entry_pipeline.er_over_testdata"):
            n_mentions = er_over_testdata(spark, self.sf).count()
        flagship = time.perf_counter() - t0
        cpu = cpu_seconds() - c0
        flagship_jobs = group_counts(spark, f"pb-unit-{i}")
        self.untimed()
        # untimed: the flagship again, for its partition, as
        # q_er_cluster_partition computes it
        member = F.concat_ws(":", "doc_id", F.col("span_idx").cast("string"))
        part = (er_over_testdata(spark, self.sf).groupBy("cluster_id")
                .agg(F.min(member).alias("canonical_member"),
                     F.count("*").alias("n_members"))
                .select("canonical_member", "n_members").toPandas())
        _release(spark)
        hashes = {"er_cluster_partition": frame_hash(part)}
        members = int(part["n_members"].sum())
        q_times = {}
        for name in HEADLINE_QUERIES:
            fn, _ = REGISTRY[name]
            spark.sparkContext.setJobGroup(f"pb-unit-{i}-{name}", name)
            c0, t = cpu_seconds(), time.perf_counter()
            with tracer.span(f"queries.{name}"):
                pdf = fn(spark, self.sf).toPandas()
            q_times[name] = time.perf_counter() - t
            cpu += cpu_seconds() - c0
            self.untimed()
            if self.inject_error and i == 0 and name == "pricing_summary":
                pdf = pdf.iloc[1:]
            hashes[name] = frame_hash(pdf)
        _release(spark)
        queries = sum(q_times.values())
        self.info["mentions"] = n_mentions
        return {"wall_s": flagship + queries, "cpu_s": cpu,
                "flagship_s": flagship, "queries_s": queries,
                "query_s": q_times,
                "flagship_counts": flagship_jobs,
                "mentions": n_mentions, "partition_members": members,
                "hashes": hashes,
                "query_groups": [f"pb-unit-{i}-{n}" for n in HEADLINE_QUERIES]}

    def extra_groups(self, res: dict) -> list[str]:
        return res["query_groups"]

    def oracle_hashes(self) -> dict:
        """DuckDB's result hash for each checked query.  The test data is
        fixed, so a hash is cached under the work root keyed by the SQL
        text and the data files; a changed oracle or table recomputes."""
        import hashlib

        import duckdb

        from wdel_spark.queries import REGISTRY

        names = ("er_cluster_partition",) + HEADLINE_QUERIES
        stamp = json.dumps(sorted(
            (t, os.path.getsize(f"{self.sf}/{t}.parquet")) for t in SF_TABLES))
        keys = {n: hashlib.sha256(
            (stamp + REGISTRY[n][1]).encode()).hexdigest()[:24] for n in names}
        cache = WORK_ROOT / "oracle-cache"
        out, todo = {}, []
        for n in names:
            path = cache / f"{keys[n]}.json"
            if path.exists():
                out[n] = tuple(json.loads(path.read_text()))
            else:
                todo.append(n)
        if todo:
            con = duckdb.connect()
            for t in SF_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf}/{t}.parquet'")
            for n in todo:
                out[n] = frame_hash(con.execute(REGISTRY[n][1]).df())
                write_json(cache / f"{keys[n]}.json", list(out[n]))
            con.close()
        return out

    def checks(self, units):
        want = self.oracle_hashes()
        out = []
        for i, u in enumerate(units):
            for name, got in u["hashes"].items():
                ok = tuple(got) == tuple(want[name])
                out.append((f"unit{i}.{name}_eq_oracle", ok,
                            f"rows {got[0]} vs {want[name][0]}"))
            out.append((f"unit{i}.flagship_rows_eq_partition_members",
                        u["mentions"] == u["partition_members"],
                        f"{u['mentions']} vs {u['partition_members']}"))
        return out

    def metrics(self, units):
        flag = median([u["flagship_s"] for u in units])
        return {
            "wall_s": (median([u["wall_s"] for u in units]), "s"),
            "mentions_per_s": (self.info["mentions"] / flag, "1/s"),
            "flagship_s": (flag, "s"),
            "queries_s": (median([u["queries_s"] for u in units]), "s"),
        }

    def trace(self, tracer):
        from pyspark.sql import functions as F

        from wdel_spark.entry_pipeline import (
            derive_mention_tokens, derive_vocab_kb_df)
        from wdel_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard
        from wdel_spark.plans.pipeline import PipelineParams

        spark = self.spark
        params = PipelineParams()
        # the flagship's chain; the traced unit's span covers er_ids_plan's
        # private fan-out joins
        with tracer.span("contract_sf01"):
            with tracer.span("entry_pipeline.derive_mention_tokens") as c:
                mt = derive_mention_tokens(spark, self.sf).localCheckpoint(
                    eager=True)
            counted(tracer, c, mt)
            with tracer.span("entry_pipeline.derive_vocab_kb_df") as c:
                kb = derive_vocab_kb_df(spark, mt).localCheckpoint(eager=True)
            counted(tracer, c, kb)
            er_layer_chain(tracer, mt, kb, params, string_keyed=False)
            _release(spark)
            with tracer.aux():
                d = spark.read.parquet(f"{self.sf}/documents.parquet").where(
                    F.col("doc_id") < 1000).select(
                    F.col("doc_id").cast("string").alias("doc_id"), "text"
                ).repartition(spark.sparkContext.defaultParallelism,
                              "doc_id").localCheckpoint(eager=True)
            with tracer.span("operators.dedup") as dedup:
                with tracer.span("operators.dedup.minhash_lsh_pairs") as c:
                    pairs = minhash_lsh_pairs(d, "doc_id", "text").select(
                        "doc_a", "doc_b").localCheckpoint(eager=True)
                n_pairs = counted(tracer, c, pairs)
                with tracer.span("operators.dedup.ngram_jaccard") as c:
                    j = ngram_jaccard(d, pairs, "doc_id", "text", shingle_n=3
                                      ).localCheckpoint(eager=True)
                kept = counted(tracer, c,
                               j.where(F.col("jaccard") >= JACCARD_KEEP))
            # MinHash candidate pairs per pair the n-gram verify keeps
            dedup["verify_ratio"] = n_pairs / kept if kept else float(n_pairs)
        return []


WORKLOADS = {w.name: w for w in (ErStored, ContractSf01)}
