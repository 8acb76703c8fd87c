"""Registry-wide plan-width gate — the q28-class regression net.

A scale-killer can cost 3s at sf0.1 and ~195s at 60M rows (q28's
mixed-distinct aggregate carried the HLL++ buffer as ~1600 columns per
row through its FIRST exchange), so test-scale wall-clock cannot catch
the class; plan shape can. This asserts EVERY corpus-volume exchange
of every registered query — any shuffle whose input descends from a
raw scan with no row-bounding node (aggregate / limit) in between, in
ANY branch of the plan — stays narrow. (Round-7 ADVICE: gating only
the first detail-section exchange would let a q28-class buffer ride
the second branch of a join unchecked.) Exchanges over
already-aggregated rows may be legitimately wide and are not gated
(tools/plan_audit.py prints the full per-query width profile for
humans).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

import __spark_entry__ as entrymod
from setu_spark.plans.inspect import (
    corpus_exchange_widths,
    duplicated_jvm_kernel_calls,
    duplicated_python_udf_calls,
    unbounded_cartesian_joins,
    unpartitioned_corpus_windows,
)

SF_DIR = "/root/testdata/sf0.001"

#: wide enough for honest multi-metric aggregates; a sketch buffer
#: riding a per-row exchange is two orders of magnitude past it
MAX_CORPUS_EXCHANGE_WIDTH = 24


def test_q151_collapsed_branch_is_narrow(spark):
    """q151's registered plan dispatches on duplicate density; every
    testdata SF is duplicate-free so the main gate only ever sees the
    raw branch. Gate the collapsed branch explicitly — it is the one
    that runs on the corpora where width matters."""
    from setu_spark.operators.dedup import _q151_collapsed

    widths = corpus_exchange_widths(_q151_collapsed(spark, SF_DIR))
    spark.catalog.clearCache()
    assert not widths or max(widths) <= MAX_CORPUS_EXCHANGE_WIDTH, widths


def test_q123_collapsed_branch_passes_all_gates(spark):
    """q123's round-10 hybrid dispatches on embedding-class duplicate
    density; every testdata SF is duplicate-free so the main gates only
    ever see the raw branch. Gate the collapsed branch explicitly (the
    q151 pattern) — it is the one that runs where width matters."""
    from setu_spark.operators.similarity import _semantic_dedup_collapsed
    from setu_spark.sources.io import load_table
    from setu_spark.plans.inspect import unbounded_cartesian_joins

    df = _semantic_dedup_collapsed(
        load_table(spark, SF_DIR, "embeddings"), 8, 3, 0.35
    )
    try:
        widths = corpus_exchange_widths(df)
        assert not widths or max(widths) <= MAX_CORPUS_EXCHANGE_WIDTH, widths
        assert not unpartitioned_corpus_windows(df)
        assert not duplicated_python_udf_calls(df)
        assert not unbounded_cartesian_joins(df)
    finally:
        spark.catalog.clearCache()


def test_every_corpus_volume_exchange_is_narrow(spark):
    offenders = {}
    for name, fn in sorted(entrymod.queries().items()):
        widths = corpus_exchange_widths(fn(spark, SF_DIR))
        spark.catalog.clearCache()
        if widths and max(widths) > MAX_CORPUS_EXCHANGE_WIDTH:
            offenders[name] = widths
    assert not offenders, (
        "corpus-volume exchanges carrying wide buffers (q28 class): "
        f"{offenders}"
    )


def test_no_registered_query_has_unpartitioned_corpus_window(spark):
    """The q121/q132 regression net (round-9): an unpartitioned Window
    over corpus-scaling input funnels EVERYTHING through one task —
    hash-green at sf0.1, dead at 100 TB. Every registered query's plan
    must be free of the shape; post-limit rank windows (q130) and
    bucket-aggregate windows (q113) are row-bounded and pass."""
    offenders = {}
    for name, fn in sorted(entrymod.queries().items()):
        flags = unpartitioned_corpus_windows(fn(spark, SF_DIR))
        spark.catalog.clearCache()
        if flags:
            offenders[name] = flags
    assert not offenders, (
        "unpartitioned corpus-fed Window (single-task global sort): "
        f"{offenders}"
    )


def test_no_registered_query_reruns_a_python_udf(spark):
    """The q42/q48 regression net (round-9): filtering on a pandas-UDF
    output field silently DUPLICATES the ArrowEvalPython node across
    the pushed filter — the whole Arrow kernel runs twice. Every
    uncached registered plan must evaluate each exact UDF call once
    (fix: .asNondeterministic() on kernels whose outputs get
    filtered)."""
    offenders = {}
    for name, fn in sorted(entrymod.queries().items()):
        dupes = duplicated_python_udf_calls(fn(spark, SF_DIR))
        spark.catalog.clearCache()
        if dupes:
            offenders[name] = dupes
    assert not offenders, (
        f"duplicated Python UDF evaluation (q42/q48 class): {offenders}"
    )


def test_no_registered_query_reruns_a_jvm_kernel(spark):
    """The JVM twin of the Python-UDF gate: filtering on a projected
    ``levenshtein`` output makes Catalyst substitute the alias into the
    pushed filter, so the quadratic kernel runs in the filter (or join
    condition) and again in the projection — q108 evaluated it three
    times per pair this way. Every registered plan must evaluate each
    exact kernel call in one operator."""
    offenders = {}
    for name, fn in sorted(entrymod.queries().items()):
        dupes = duplicated_jvm_kernel_calls(fn(spark, SF_DIR))
        spark.catalog.clearCache()
        if dupes:
            offenders[name] = dupes
    assert not offenders, (
        f"duplicated JVM kernel evaluation (q108 class): {offenders}"
    )


def test_jvm_kernel_dup_gate_catches_planted_offender(spark):
    """Positive control: the select-then-filter verify shape (kernel
    projected under an alias, then filtered on) must flag; the same
    kernel behind a Generate, and two DIFFERENT kernel calls in two
    operators, must not."""
    from setu_spark.operators.dedup import edit_verify
    from setu_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    joined = (
        pairs.join(docs.select(F.col("doc_id").alias("id_a"),
                               F.col("text").alias("text_a")), "id_a")
        .join(docs.select(F.col("doc_id").alias("id_b"),
                          F.col("text").alias("text_b")), "id_b")
    )
    planted = joined.select(
        "id_a", "id_b",
        F.expr("levenshtein(text_a, text_b, 100)").alias("d"),
    ).filter(F.col("d") >= 0)
    assert duplicated_jvm_kernel_calls(planted)
    assert not duplicated_jvm_kernel_calls(edit_verify(docs, pairs))
    two_kernels = joined.select(
        "text_a", "text_b",
        F.levenshtein("text_a", "text_b").alias("d1"),
    ).repartition(2).select(
        "d1", F.levenshtein("text_b", F.lit("x")).alias("d2")
    )
    assert not duplicated_jvm_kernel_calls(two_kernels)


def test_udf_dup_gate_sees_through_cached_plans(spark):
    """Round-9 ADVICE blind spot: the gate returned [] for ANY plan
    containing an InMemoryRelation, so a genuinely duplicated kernel in
    a query that also uses scoped_cache passed undetected. Now cached
    subtrees are stripped (each distinct one counted once — a cached
    stage prints per consumer but executes once) and the outer plan is
    scanned as before: the benign double-consumer shape stays clean,
    the planted q42-class duplicate flags even with a cache in-plan."""
    from pyspark.sql.functions import pandas_udf

    from setu_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")

    @pandas_udf("long")
    def klen(s):
        return s.str.len()

    cached = docs.select("doc_id", "lang").cache()
    try:
        cached.count()
        benign = (
            docs.select("doc_id", klen("text").alias("n"))
            .join(cached, "doc_id")
            .unionByName(
                docs.select("doc_id", F.lit(0).alias("n")).join(
                    cached, "doc_id"
                )
            )
        )
        assert duplicated_python_udf_calls(benign) == []
        # deterministic kernel + filter on its output = Catalyst pushes
        # the filter below the projection and re-evaluates the kernel
        planted = (
            docs.select("doc_id", klen("text").alias("n"))
            .filter(F.col("n") > 3)
            .join(cached, "doc_id")
        )
        assert duplicated_python_udf_calls(planted)
    finally:
        spark.catalog.clearCache()


def test_udf_dup_gate_handles_nested_caches(spark):
    """Round-14: a cached stage built ON other cached stages (q151's
    pair-union cache over the signature/band caches) prints the inner
    InMemoryRelation subtrees inside the outer one WITHOUT re-aliasing
    — an inner cache consumed twice (self-join sides) must not read as
    a duplicate; a genuine q42-class duplicate inside a cached fragment
    must still flag."""
    from pyspark.sql.functions import pandas_udf

    from setu_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")

    @pandas_udf("long")
    def klen2(s):
        return s.str.len()

    inner = docs.select("doc_id", klen2("text").alias("n")).cache()
    try:
        # outer cache whose subtree consumes the inner cache TWICE
        # (self-join) — benign: the kernel executes once
        outer = (
            inner.alias("a")
            .join(
                inner.select(
                    F.col("doc_id").alias("doc_id"),
                    F.col("n").alias("n2"),
                ),
                "doc_id",
            )
            .cache()
        )
        benign = outer.groupBy().count().crossJoin(outer.limit(1))
        assert duplicated_python_udf_calls(benign) == []
        # a REAL duplicate inside a cached fragment still flags: the
        # filter-on-kernel-output shape, cached and consumed. Uses a
        # FRESH kernel — reusing klen2 would let the cache manager
        # subsume the subplan under `inner`'s cache and the duplicate
        # would never exist in the first place.
        @pandas_udf("long")
        def klen3(s):
            return s.str.len() + 1

        planted = (
            docs.select("doc_id", klen3("text").alias("n"))
            .filter(F.col("n") > 3)
            .cache()
        )
        assert duplicated_python_udf_calls(
            planted.join(inner.select("doc_id"), "doc_id")
        )
    finally:
        spark.catalog.clearCache()


def test_unpartitioned_window_gate_catches_planted_offender(spark):
    """Negative control: the exact pre-fix q132 shape — a running-sum
    window ordered over the full exploded-token vocabulary with a
    non-pushable filter — must be flagged. (The pre-fix q121 shape,
    ``row_number`` + ``rank <= k`` filter, is rewritten by Catalyst's
    LimitPushDownThroughWindow into a TakeOrderedAndProject-fed window
    — genuinely bounded, so the running-sum form is the honest
    plant.)"""
    from setu_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ", -1)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("word"))
    planted = wc.select(
        "c",
        F.row_number().over(w).alias("rnk"),
        F.sum("c")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    ).filter(F.expr("rnk & (rnk - 1)") == 0)
    assert unpartitioned_corpus_windows(planted)
    # raw-corpus global window (no aggregate at all) is also caught
    raw = docs.withColumn(
        "r", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert unpartitioned_corpus_windows(raw)


def test_agg_is_scalar_scan_is_anchored_to_own_section():
    """_agg_is_scalar must read the Keys line of node nid's OWN detail
    section. A keyed aggregate whose section lacks a Keys line (format
    drift) must NOT latch onto a LATER node's 'Keys: []' and classify
    as scalar — that would silently shield a corpus-fed subtree from
    the window/cartesian gates (round-10 ADVICE)."""
    from setu_spark.plans.inspect import _agg_is_scalar

    drifted = (
        "(3) HashAggregate [codegen id : 2]\n"
        "Input [2]: [k#1, v#2]\n"
        "SomeFutureField [1]: [k#1]\n"
        "\n"
        "(4) HashAggregate [codegen id : 3]\n"
        "Input [1]: [v#2]\n"
        "Keys: []\n"
        "Functions [1]: [count(1)]\n"
    )
    assert not _agg_is_scalar(drifted, 3)  # no own Keys → NOT scalar
    assert _agg_is_scalar(drifted, 4)
    # the normal shapes keep working
    keyed = (
        "(7) ObjectHashAggregate\n"
        "Input [2]: [k#1, v#2]\n"
        "Keys [1]: [k#1]\n"
    )
    assert not _agg_is_scalar(keyed, 7)
    scalar = (
        "(9) SortAggregate\n"
        "Input [1]: [v#2]\n"
        "Keys: []\n"
    )
    assert _agg_is_scalar(scalar, 9)


def test_no_registered_query_has_unbounded_cartesian(spark):
    """Round-10 gate: a CartesianProduct / BroadcastNestedLoopJoin with
    BOTH sides corpus-fed is |corpus|^2 candidate rows — hash-green at
    sf0.1, dead at any cluster size. Until now this class was audited
    by hand (round-9 VERDICT plan audit); this makes it mechanical.
    One bounded side (broadcast scalar total, limit-k head, literal
    band table) is linear and legitimate — q18/q19's range/as-of
    shapes and the crossJoin(broadcast(agg)) total-attach pattern all
    pass."""
    offenders = {}
    for name, fn in sorted(entrymod.queries().items()):
        flags = unbounded_cartesian_joins(fn(spark, SF_DIR))
        spark.catalog.clearCache()
        if flags:
            offenders[name] = flags
    assert not offenders, (
        "corpus x corpus cartesian/nested-loop joins (quadratic "
        f"candidates): {offenders}"
    )


def test_cartesian_gate_catches_planted_offender(spark):
    """Positive control: an all-pairs similarity join (the naive
    near-dup shape every LSH/banding operator in dedup.py exists to
    avoid) must flag; its broadcast-scalar and limit-k cousins must
    not."""
    from setu_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    planted = docs.select("doc_id").crossJoin(
        docs.select(F.col("doc_id").alias("other_id"))
    )
    assert unbounded_cartesian_joins(planted)
    # non-equi BNLJ between two corpus scans is the same class
    bnlj = docs.alias("a").join(
        docs.alias("b"),
        F.length(F.col("a.text")) > F.length(F.col("b.text")),
    )
    assert unbounded_cartesian_joins(bnlj)
    # bounded sides: scalar aggregate, limit-k, literal band table
    tot = docs.agg(F.count("*").alias("n"))
    assert not unbounded_cartesian_joins(docs.crossJoin(F.broadcast(tot)))
    head = docs.select(F.col("doc_id").alias("other_id")).limit(3)
    assert not unbounded_cartesian_joins(docs.crossJoin(F.broadcast(head)))
    bands = spark.createDataFrame(
        [(0, 100, "short"), (100, 10**9, "long")], ["lo", "hi", "band"]
    )
    rj = docs.join(
        F.broadcast(bands),
        (F.length("text") >= F.col("lo")) & (F.length("text") < F.col("hi")),
    )
    assert not unbounded_cartesian_joins(rj)
