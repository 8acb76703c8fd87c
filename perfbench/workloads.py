"""The benchmark workloads: what one pass runs and how its outputs are
checked.

Every call into the program is wrapped in a span (``ctx.spans.span``)
whose layer names the module called. A workload is a dict of hooks:

* ``run_pass(ctx)`` - the timed pass; returns what the checks need;
* ``check(ctx, result)`` - list of ``(name, ok, detail)``, run after the
  session has stopped, reading only files and what the pass returned;
* ``ratios(ctx, result)`` - the per-layer ratios, for the traced run.
"""

from __future__ import annotations

import os
import statistics
import sys
from dataclasses import dataclass

import pyarrow.dataset as ds

from layers import Spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Ctx:
    spark: object
    inp: str            # generated inputs (read-only)
    out: str            # this run's output root
    truth: dict
    spans: Spans


def _rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def _table(path: str, columns=None):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    )


def _pairs(path: str, a: str = "id_a", b: str = "id_b") -> set[tuple]:
    t = _table(path, [a, b])
    return set(zip(t.column(a).to_pylist(), t.column(b).to_pylist()))


# ------------------------------------------------------------ curate_crawl

#: (stage, layer, input stage): ``setu_spark.run``'s chain in run order
CURATE_CHAIN = (
    ("extract", "stages.extraction", "crawl"),
    ("clean", "stages.cleaning", "extract"),
    ("analyse", "stages.analysis", "clean"),
    ("lid", "stages.lid", "clean"),
    ("flag_filter", "stages.flagging", "analyse"),
    ("dedup", "operators.dedup", "clean"),
    ("govern", "operators.quality", "clean"),
)


def curate_pass(ctx: Ctx) -> dict:
    from setu_spark.run import STAGES

    out = ctx.out
    dst = {"crawl": os.path.join(ctx.inp, "crawl-*.json")}
    for stage, layer, src in CURATE_CHAIN:
        with ctx.spans.span(layer, stage):
            dst[stage] = STAGES[stage](ctx.spark, dst[src], out, {})
    return {"out": out}


def curate_check(ctx: Ctx, result: dict) -> list[tuple]:
    out = result["out"]
    want = ctx.truth["rows"]
    got = {
        "extracted": _rows(f"{out}/extracted"),
        "cleaned": _rows(f"{out}/cleaned"),
        "doc_stats": _rows(f"{out}/doc_stats"),
        "lid": _rows(f"{out}/lid"),
        "flagged": _rows(f"{out}/flagged"),
        "survivors": _rows(f"{out}/survivors"),
        "minhash_signatures": _rows(f"{out}/minhash_signatures"),
        "governed": _rows(f"{out}/governed"),
    }
    ext = _table(f"{out}/extracted", ["successful_extraction"])
    got["extracted_ok"] = ext.column(0).to_pylist().count("true")
    nulls = _table(f"{out}/cleaned", ["text"]).column(0).null_count
    got["cleaned_text"] = got["cleaned"] - nulls
    checks = [
        (f"rows.{name}", got[name] == n, f"got {got[name]} want {n}")
        for name, n in sorted(want.items())
    ]
    card = sum(_table(f"{out}/dataset_card", ["n_docs"]).column(0).to_pylist())
    checks.append(("dataset_card.n_docs", card == got["governed"],
                   f"card {card} governed {got['governed']}"))
    pairs = _pairs(f"{out}/near_dup_pairs")
    missing = [p for p in map(tuple, ctx.truth["exact_copy_pairs"])
               if p not in pairs]
    checks.append(("near_dup_pairs.exact_copies", not missing,
                   f"{len(missing)} exact-copy pairs missing"))
    return checks


def curate_ratios(ctx: Ctx, result: dict) -> dict[str, float]:
    out = result["out"]
    ext = _table(f"{out}/extracted", ["successful_extraction", "text"])
    n_ext = ext.num_rows
    ok = ext.column(0).to_pylist().count("true")
    chunks = sum(t.count("\n") + 1 for t in ext.column(1).to_pylist() if t)
    kept = sum(v for v in _table(f"{out}/cleaned", ["kept_chunks"])
               .column(0).to_pylist() if v)
    pairs = _pairs(f"{out}/near_dup_pairs")
    planted = set(map(tuple, ctx.truth["exact_copy_pairs"]))
    return {
        "stages.extraction.success_frac": ok / n_ext if n_ext else 0.0,
        "stages.cleaning.chunks_kept_frac": kept / chunks if chunks else 0.0,
        "stages.flagging.survivor_frac":
            _rows(f"{out}/survivors") / max(1, _rows(f"{out}/flagged")),
        "operators.dedup.lsh_candidates": float(len(pairs)),
        "operators.dedup.planted_pair_recall":
            len(planted & pairs) / len(planted) if planted else 0.0,
    }


# ------------------------------------------------------------ dedup_dense

#: registered queries run over the deduplicated corpus (collected to the
#: driver and checked against their DuckDB oracles) -> layer
DENSE_QUERIES = {
    "q30_doc_word_stats": "analytics.queries",
    "q98_hash_split": "analytics.queries",
    "q99_gopher_quality_rules": "operators.quality",
}

#: modules whose import registers those queries
QUERY_MODULES = (
    "setu_spark.operators.textstats",
    "setu_spark.operators.curation",
    "setu_spark.operators.quality",
)


def _queries() -> dict:
    import importlib

    from setu_spark.registry import QUERIES

    for m in QUERY_MODULES:
        importlib.import_module(m)
    return QUERIES


def _drain_admission(ctx: Ctx, name: str) -> tuple[list[float], object]:
    """The streaming admission twin over ``docs_stream/`` (one file per
    micro-batch) against the corpus' content hashes, drained with
    availableNow into a memory table. Returns the per-batch trigger
    durations (ms) from ``recentProgress`` and the decisions."""
    from pyspark.sql import functions as F

    from setu_spark.streaming.jobs import admission_decisions

    spark, inp = ctx.spark, ctx.inp
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{inp}/docs_stream")
    )
    existing = spark.read.parquet(f"{inp}/documents.parquet").select(
        F.md5("text").alias("h")
    )
    q = (
        admission_decisions(stream, existing).writeStream.format("memory")
        .queryName(name).outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    batches = [
        float(p["durationMs"]["triggerExecution"])
        for p in q.recentProgress
        if p.get("numInputRows", 0) > 0
    ]
    decisions = spark.table(name).toPandas()
    spark.catalog.dropTempView(name)
    return batches, decisions


def dedup_pass(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from setu_spark.operators import dedup as D
    from setu_spark.operators import similarity as S
    from setu_spark.sources.io import write_parquet

    spark, inp = ctx.spark, ctx.inp
    out = ctx.out
    docs = spark.read.parquet(f"{inp}/documents.parquet")

    def step(layer: str, op: str, build):
        with ctx.spans.span(layer, op):
            write_parquet(build(), f"{out}/{op}")
        return spark.read.parquet(f"{out}/{op}")

    sig = step("operators.dedup", "minhash_signatures",
               lambda: D.minhash_signatures(docs))
    cand = step("operators.dedup", "lsh_candidate_pairs",
                lambda: D.lsh_candidate_pairs(sig))
    est = step("operators.dedup", "pair_est_jaccard",
               lambda: D.pair_est_jaccard(sig, cand))
    ver = step("operators.dedup", "edit_verify",
               lambda: D.edit_verify(docs, est))
    step("operators.dedup", "connected_components",
         lambda: D.connected_components(ver))
    emb = S.load_vectors(spark, inp)
    step("operators.similarity", "semantic_dedup",
         lambda: S.semantic_dedup(emb))
    incoming = spark.read.parquet(f"{inp}/incoming_docs.parquet")
    step("operators.dedup", "exact_admission",
         lambda: D.exact_admission(
             incoming.select("doc_id", "text"),
             docs.select(F.md5("text").alias("h")),
         ))
    inc_vecs = spark.read.parquet(f"{inp}/incoming_embeddings.parquet")
    step("operators.dedup", "ann_admission",
         lambda: D.ann_admission(
             inc_vecs.select("vec_id", "embedding"),
             emb.select("vec_id", "embedding"),
         ))
    with ctx.spans.span("streaming.jobs", "admission_decisions"):
        batch_ms, decisions = _drain_admission(ctx, "admission")
    results = {}
    queries = _queries()
    for name, layer in DENSE_QUERIES.items():
        with ctx.spans.span(layer, name):
            results[name] = queries[name](spark, inp).toPandas()
    return {"out": out, "batch_ms": batch_ms, "stream": decisions,
            "queries": results}


def _components(pairs: set[tuple]) -> int:
    """Reference union-find: number of components among paired ids."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return len({find(x) for x in parent})


def _status_counts(statuses: list) -> dict[str, int]:
    return {s: statuses.count(s) for s in set(statuses)}


def _duck(inp: str):
    """DuckDB with a view per generated parquet file, for the oracles."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(inp)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(inp, f)}')"
            )
    return con


def dedup_check(ctx: Ctx, result: dict) -> list[tuple]:
    sys.path.append(os.path.join(ROOT, "tests"))
    from oracle_utils import compare_frames

    from setu_spark.registry import ORACLES

    truth = ctx.truth
    planted = set(map(tuple, truth["planted_pairs"]))
    exact = set(map(tuple, truth["exact_pairs"]))
    out = result["out"]
    checks = []
    ver = _pairs(f"{out}/edit_verify")
    stray = ver - planted
    checks.append(("edit_verify.precision", not stray,
                   f"{len(stray)} verified pairs not planted"))
    lost = exact - ver
    checks.append(("edit_verify.exact_recall", not lost,
                   f"{len(lost)} exact-copy pairs not verified"))
    n_comp = len(set(_table(f"{out}/connected_components", ["component"])
                     .column(0).to_pylist()))
    ref = _components(ver)
    checks.append(("connected_components.count", n_comp == ref,
                   f"spark {n_comp}, union-find {ref}"))
    sem = _table(f"{out}/semantic_dedup", ["vec_id", "sem_removed"])
    removed = {v for v, r in zip(sem.column(0).to_pylist(),
                                 sem.column(1).to_pylist()) if r}
    kept_copies = set(truth["sem_removed_copies"]) - removed
    checks.append(("semantic_dedup.rows", sem.num_rows == truth["vecs"],
                   f"{sem.num_rows} rows, want {truth['vecs']}"))
    checks.append(("semantic_dedup.copies_removed", not kept_copies,
                   f"{len(kept_copies)} bit-identical copies kept"))
    for op in ("exact_admission", "ann_admission"):
        got = _status_counts(
            _table(f"{out}/{op}", ["status"]).column(0).to_pylist()
        )
        checks.append((f"{op}.decisions", got == truth[op],
                       f"got {got} want {truth[op]}"))
    got = _status_counts(list(result["stream"]["status"]))
    checks.append(("admission_decisions.stream",
                   got == truth["exact_admission"],
                   f"got {got} want {truth['exact_admission']}"))
    con = _duck(ctx.inp)
    for name, df in result["queries"].items():
        problems = compare_frames(df, con.execute(ORACLES[name]).df())
        checks.append((f"oracle.{name}", not problems, "; ".join(problems)))
    return checks


def dedup_ratios(ctx: Ctx, result: dict) -> dict[str, float]:
    out = result["out"]
    planted = set(map(tuple, ctx.truth["planted_pairs"]))
    cand = _rows(f"{out}/lsh_candidate_pairs")
    ver = _pairs(f"{out}/edit_verify")
    ms = result["batch_ms"]
    # rows these layers return to the driver (their sinks write no files,
    # so the event log has no output records for them)
    returned = {layer: 0 for layer in DENSE_QUERIES.values()}
    for name, df in result["queries"].items():
        returned[DENSE_QUERIES[name]] += len(df)
    return {
        "streaming.jobs.rows_out": float(len(result["stream"])),
        "analytics.queries.rows_out": float(returned["analytics.queries"]),
        "operators.quality.rows_out": float(returned["operators.quality"]),
        "operators.dedup.lsh_candidates": float(cand),
        "operators.dedup.verify_yield": len(ver) / cand if cand else 0.0,
        "operators.dedup.planted_pair_recall":
            len(ver & planted) / len(planted) if planted else 0.0,
        "streaming.jobs.batch_p50_ms":
            statistics.median(ms) if ms else 0.0,
    }


# ------------------------------------------------------------ registry

WORKLOADS = {
    "curate_crawl": {
        "run_pass": curate_pass,
        "check": curate_check,
        "ratios": curate_ratios,
        "docs": lambda truth: truth["records"],
        "input_bytes": lambda truth: truth["input_bytes"],
    },
    "dedup_dense": {
        "run_pass": dedup_pass,
        "check": dedup_check,
        "ratios": dedup_ratios,
        "docs": lambda truth: truth["docs"],
        "input_bytes": lambda truth: 0,
    },
}
