"""Focused pins for the r6 optimization round.

Two kinds of guards:
  1. operator-internals tests for the optimizations that changed
     execution structure (CC star-shaped fast path, edges_unique
     dedup-skip, simhash first-shared-band pair dedup);
  2. plan-identity assertions (r5 VERDICT next-round #7): load-bearing
     physical-plan properties of the cheap query paths, so a future
     change that silently degrades a plan fails a test instead of a
     bench.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ----------------------------------------------------------- CC internals


def _comp_map(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_cc_star_fast_path_skips_iterations(spark, monkeypatch):
    """A star-shaped assignment graph must resolve WITHOUT running a
    large-star/small-star iteration (the r6 fast path), and produce the
    same components as the loop."""
    import wdel_spark.operators.cc as cc

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (2, 22)], ["src", "dst"])
    expect = {1: 1, 10: 1, 11: 1, 2: 2, 20: 2, 21: 2, 22: 2}

    called = []
    orig = cc._large_star

    def spy(e):
        called.append(1)
        return orig(e)

    monkeypatch.setattr(cc, "_large_star", spy)
    got = _comp_map(cc.connected_components(edges))
    assert got == expect
    assert not called, "star-shaped input must not enter the CC loop"

    # a path graph is NOT star-shaped -> the loop must run and converge
    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    called.clear()
    got = _comp_map(cc.connected_components(chain))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}
    assert called, "non-star input must iterate"


def test_cc_is_star_shaped_predicate(spark):
    from wdel_spark.operators.cc import _canonical, _is_star_shaped

    star = spark.createDataFrame([(1, 5), (1, 6)], ["src", "dst"])
    assert _is_star_shaped(_canonical(star))
    # shared member (5 has two centers) -> not a fixpoint
    shared = spark.createDataFrame([(1, 5), (2, 5)], ["src", "dst"])
    assert not _is_star_shaped(_canonical(shared))
    # member that is itself a center -> not a fixpoint
    chain = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    assert not _is_star_shaped(_canonical(chain))


def test_cc_edges_unique_false_assertion_still_correct(spark):
    """edges_unique=True with a LYING caller (duplicate edges) must still
    produce correct components — the fast-path check rejects the input
    and the loop re-canonicalizes with dedup."""
    from wdel_spark.operators.cc import connected_components

    dup = spark.createDataFrame(
        [(1, 5), (5, 1), (1, 5), (2, 6)], ["src", "dst"])
    got = _comp_map(connected_components(dup, edges_unique=True))
    assert got == {1: 1, 5: 1, 2: 2, 6: 2}


# ------------------------------------------------- simhash pair dedup


def test_simhash_first_band_dedup_matches_distinct(spark):
    """The first-shared-band predicate must emit exactly the distinct
    pair set the former .distinct() produced."""
    from wdel_spark.operators.dedup import simhash_neardup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    got = simhash_neardup_pairs(docs, max_hamming=16)
    rows = [tuple(r) for r in got.collect()]
    assert len(rows) == len(set(rows)), "duplicate pair emitted"
    # brute-force reference: every qualifying pair shares >= 1 band key
    import itertools

    from wdel_spark.operators.dedup import simhash_kernel
    pdf = docs.toPandas()
    sims = dict(zip(pdf["doc_id"], simhash_kernel(pdf["text"].tolist())))
    expect = set()
    for a, b in itertools.combinations(sorted(sims), 2):
        sa, sb = int(sims[a]), int(sims[b])
        shares = any(((sa >> (16 * j)) & 0xFFFF) == ((sb >> (16 * j)) & 0xFFFF)
                     for j in range(4))
        if shares and bin(sa ^ sb).count("1") <= 16:
            expect.add((a, b, bin(sa ^ sb).count("1")))
    assert set(rows) == expect


# ----------------------------------------------------- plan identity


def test_scan_pushdown_and_pruning(spark):
    """Predicate pushdown + column pruning must reach the parquet scan on
    a filtered documents query (guide §6)."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(d.where(F.col("doc_id") < 1000).select("doc_id", "text"))
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,1000)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_no_cartesian_outside_cosine_topk(spark):
    """No CartesianProduct / BroadcastNestedLoopJoin anywhere except the
    intended 1-query-x-N cosine top-k (r5 VERDICT next-round #7)."""
    import __spark_entry__ as E

    qs = E.queries()
    for name in ("simhash_neardup", "minhash_lsh_neardup",
                 "topk_orders_per_customer", "entity_hydrate_nested",
                 "embedding_neardup_banded", "pricing_summary",
                 "revenue_by_nation"):
        plan = _plan(qs[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # cosine_topk: the broadcast cross join IS the intended plan
    plan = _plan(qs["cosine_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "Cross" in plan


def test_simhash_plan_has_no_pair_exchange(spark):
    """The pair-dedup exchange removed in r6 must stay removed: after the
    band self-join there is no aggregate exchange over the pair stream
    (the only exchange below the count is the broadcast build)."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["simhash_neardup"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "HashAggregate" not in tree
    assert tree.count("Exchange") == 1  # the BroadcastExchange only
    assert "BroadcastExchange" in tree


def test_window_group_limit_prunes_topk_and_hydrate(spark):
    """WindowGroupLimit (partial top-k before the exchange) must cover
    the windowed top-k paths (guide §2.3)."""
    import __spark_entry__ as E

    qs = E.queries()
    assert "WindowGroupLimit" in _plan(qs["topk_orders_per_customer"](
        spark, SF))
    assert "WindowGroupLimit" in _plan(qs["entity_hydrate_nested"](
        spark, SF))


# ------------------------------------------------------ codegen cache


def test_warm_er_rerun_compiles_no_classes(spark, tmp_path):
    """A warm rerun of the flagship and the stored-corpus ER job must
    find every generated class in Spark's codegen cache: together they
    generate more classes than the default 100-entry cache holds, which
    made every rerun recompile ~100 classes in Janino."""
    from wdel_spark.entry_pipeline import (
        er_over_testdata, materialize_corpus, run_er_from_parquet)

    cd = str(tmp_path / "corpus")
    materialize_corpus(spark, n_docs=120, n_entities=40, out_dir=cd,
                       n_partitions=4)
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    def one_pass():
        er_over_testdata(spark, SF).count()
        run_er_from_parquet(spark, cd).count()

    one_pass()
    before = compiles.getCount()
    one_pass()
    assert compiles.getCount() - before == 0
