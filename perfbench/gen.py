"""Seeded input generators for the benchmark workloads.

Each generator writes one workload's input files plus ``truth.json`` (the
ground truth the output checks compare against) into a directory, and is a
pure function of ``(seed, size)``: the same seed writes byte-identical
files. Only numpy/pyarrow run here, so generation never touches the JVM and
stays outside every timed region.

Parquet tables are written with many small row groups and the crawl NDJSON
in several shards, so the scans fan out over all cores (a single-row-group
file runs as one task).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Input sizes. ``full`` is what the timed runs use; ``tiny`` is the smoke
#: size the benchmark's own tests run. The full sizes come from a scan on
#: 4 cores: a cold pass costs ~20 s of per-job overhead whatever the size,
#: so each size is the largest at which one cold run (set-up, pass,
#: checks) stays near a minute. There cleaning + govern take ~45% of the
#: curate_crawl pass and edit_verify ~30% of the dedup_dense pass (~1k-char
#: texts; its cost grows with the square of text length).
SIZES = {
    "curate_crawl": {
        "full": {"docs": 6000, "shards": 12},
        "tiny": {"docs": 120, "shards": 2},
    },
    "dedup_dense": {
        "full": {"docs": 300, "sentences": 12, "vecs": 300, "incoming": 60,
                 "max_cluster": 12},
        "tiny": {"docs": 80, "sentences": 4, "vecs": 80, "incoming": 12,
                 "max_cluster": 6},
    },
}

ROW_GROUP = 64          # rows per parquet row group
EMB_DIM = 64
#: dedup_dense corpus vectors live on the first 48 dimensions and fresh
#: admission probes on the last 16, so a fresh probe has cosine exactly 0
#: with every corpus vector and its expected decision is ``novel``
CORPUS_DIMS = slice(0, 48)
FRESH_DIMS = slice(48, EMB_DIM)


# ------------------------------------------------------------ vocabulary

_LATIN_SYL = ["ka", "ri", "to", "man", "sel", "po", "dra", "ve", "lu", "tin",
              "so", "ber", "ga", "mi", "nor", "pe", "qua", "hul", "zo", "fen"]
_DEVA_CONS = [chr(c) for c in range(0x0915, 0x0939)]   # क .. ह
_DEVA_MATRA = ["", "ा", "ि", "ी", "ु", "े", "ो"]
STOPWORDS = ["the", "and", "of", "to", "is", "in", "that", "it", "with", "as"]


def _vocab(rng: np.random.Generator) -> tuple[list[str], list[str]]:
    latin = sorted({
        "".join(rng.choice(_LATIN_SYL, size=rng.integers(2, 4)))
        for _ in range(3000)
    })
    deva = sorted({
        "".join(
            rng.choice(_DEVA_CONS) + rng.choice(_DEVA_MATRA)
            for _ in range(rng.integers(2, 4))
        )
        for _ in range(1500)
    })
    return np.array(latin), np.array(deva)


def _sentence(rng, latin, deva, script: str, n_words: int) -> str:
    """One sentence: words only (no sentence delimiter inside), ended by
    the script's terminator."""
    if script == "deva":
        words = list(rng.choice(deva, size=n_words))
        return " ".join(words) + " ।"
    words = list(rng.choice(latin, size=n_words))
    # a share of stopwords keeps the Gopher rule battery honest
    for i in range(0, n_words, 4):
        words[i] = STOPWORDS[rng.integers(len(STOPWORDS))]
    return " ".join(words).capitalize() + "."


def _mutate(rng, text: str, latin: list[str], n_sub: int) -> str:
    """Near copy: ``n_sub`` single-word substitutions (terminators kept)."""
    words = text.split(" ")
    for i in rng.choice(len(words) - 1, size=n_sub, replace=False):
        words[i] = str(rng.choice(latin))
    return " ".join(words)


def _write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP)


def _write_truth(out: str, truth: dict) -> None:
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)


def input_digest(out: str) -> str:
    """sha256 over every generated file (name + bytes), for the
    same-seed-same-inputs test."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(out)):
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ------------------------------------------------------------ curate_crawl

def gen_curate_crawl(out: str, seed: int, size: str = "full") -> dict:
    """HTML crawl NDJSON shards.

    Record kinds (per unique doc_id): ``good`` pages (title, a site nav
    repeated in header and footer, several paragraphs of Latin or
    Devanagari sentences, a site tagline), ``plain`` records that are not
    HTML at all (extraction fails), ``numeric`` pages whose every line is
    digits (cleaning rejects every chunk) and ``oneline`` pages with a
    single sentence (flagged for too few lines). About 1% of doc_ids have
    a NULL timestamp, a few records are re-crawled verbatim (repeated
    doc_id) and ~4% of good pages are exact body copies of another page
    on the same site."""
    p = SIZES["curate_crawl"][size]
    rng = np.random.default_rng([seed, 1])
    latin, deva = _vocab(rng)
    n_sites = 12
    sites = []
    for s in range(n_sites):
        nav = " ".join(str(w).capitalize() for w in rng.choice(latin, size=4))
        tag = _sentence(rng, latin, deva, "latin", 7)
        sites.append({"name": f"site{s}", "nav": nav, "tagline": tag})

    n = p["docs"]
    kinds = rng.choice(
        ["good", "plain", "numeric", "oneline"], size=n,
        p=[0.82, 0.06, 0.06, 0.06],
    )
    base_ts = datetime(2024, 3, 1, tzinfo=timezone.utc)
    recs = []
    bodies: dict[int, str] = {}            # good doc index -> body
    by_site: dict[int, list[int]] = {}     # site -> good doc indices
    copies: list[tuple[int, int]] = []
    for i in range(n):
        site = int(rng.integers(n_sites))
        kind = str(kinds[i])
        if kind == "good":
            good = by_site.setdefault(site, [])
            if good and rng.random() < 0.04:
                src = good[int(rng.integers(len(good)))]
                body = bodies[src]
                copies.append((src, i))
            else:
                script = "deva" if rng.random() < 0.4 else "latin"
                paras = []
                for _ in range(int(rng.integers(3, 7))):
                    sents = [
                        _sentence(rng, latin, deva, script,
                                  int(rng.integers(6, 14)))
                        for _ in range(int(rng.integers(1, 3)))
                    ]
                    paras.append("<p>" + " ".join(sents) + "</p>")
                body = "\n".join(paras)
            bodies[i] = body
            good.append(i)
            sd = sites[site]
            html = (
                f"<html><head><title>{sd['name']} news</title>\n"
                "<style>.c{color:#333;margin:0}</style>\n"
                "<script>var t=Date.now();function f(x){return x+1;}</script>"
                "</head><body>\n"
                f"<div class=\"nav\">{sd['nav']}</div>\n{body}\n"
                f"<div class=\"footer\">{sd['nav']}</div>\n"
                f"<div class=\"tag\">{sd['tagline']}</div>\n</body></html>"
            )
        elif kind == "plain":
            html = "plain text record " + " ".join(rng.choice(latin, size=8))
        elif kind == "numeric":
            rows = [
                " ".join(str(int(x)) for x in rng.integers(0, 9999, size=4))
                for _ in range(3)
            ]
            html = "<html><body>\n" + "\n".join(
                f"<td>{r}</td>" for r in rows
            ) + "\n</body></html>"
        else:
            html = "<html><body><p>" + _sentence(
                rng, latin, deva, "latin", 8
            ) + "</p></body></html>"
        ts = base_ts + timedelta(seconds=int(rng.integers(0, 86400 * 30)))
        recs.append({
            "doc_id": f"d{i:07d}",
            "url": f"https://{sites[site]['name']}.example/p/{i}",
            "source": sites[site]["name"],
            "timestamp": None if rng.random() < 0.01
            else ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "html": html,
            "_kind": kind,
        })

    has_ts = [r["timestamp"] is not None for r in recs]
    repeats = [int(j) for j in rng.choice(n, size=max(2, n // 100),
                                          replace=False)]
    raw = recs + [recs[j] for j in repeats]
    order = rng.permutation(len(raw))
    os.makedirs(out, exist_ok=True)
    shards = p["shards"]
    for s in range(shards):
        with open(os.path.join(out, f"crawl-{s:03d}.json"), "w") as fh:
            for k in order[s::shards]:
                r = {kk: v for kk, v in raw[k].items() if kk != "_kind"}
                fh.write(json.dumps(r, ensure_ascii=False) + "\n")

    kept = [r for r, t in zip(recs, has_ts) if t]
    n_kind = {k: sum(1 for r in kept if r["_kind"] == k)
              for k in ("good", "plain", "numeric", "oneline")}
    exact_pairs = sorted(
        [recs[a]["doc_id"], recs[b]["doc_id"]]
        for a, b in copies if has_ts[a] and has_ts[b]
    )
    truth = {
        "records": len(raw),
        "input_bytes": sum(
            os.path.getsize(os.path.join(out, f"crawl-{s:03d}.json"))
            for s in range(shards)
        ),
        "rows": {
            "extracted": len(kept),
            "extracted_ok": len(kept) - n_kind["plain"],
            "cleaned": len(kept),
            "cleaned_text": n_kind["good"] + n_kind["oneline"],
            "doc_stats": len(kept),
            "lid": len(kept),
            "flagged": len(kept),
            "survivors": n_kind["good"],
            "minhash_signatures": len(kept),
            "governed": len(kept),
        },
        "exact_copy_pairs": exact_pairs,
    }
    _write_truth(out, truth)
    return truth


# ------------------------------------------------------------ dedup_dense

def _zipf_clusters(n: int, cap: int, a: float = 1.3) -> list[int]:
    """Cluster sizes 1..cap with counts proportional to size^-a (Zipf),
    topped up with singletons to exactly ``n`` rows. Deterministic, so
    every seed plants the same number of pairs and only the content
    varies."""
    s = np.arange(1, cap + 1)
    p = s ** -a / (s ** -a).sum()
    counts = np.floor(n / (s * p).sum() * p).astype(int)
    sizes = [int(x) for x, c in zip(s, counts) for _ in range(c)]
    return sizes + [1] * (n - sum(sizes))


def _unit(rng, k: int, dims: slice = CORPUS_DIMS) -> np.ndarray:
    """``k`` random unit vectors supported on ``dims`` (zero elsewhere)."""
    v = np.zeros((k, EMB_DIM))
    v[:, dims] = rng.standard_normal((k, len(range(EMB_DIM)[dims])))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _emb_table(ids, vecs, labels) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _docs_table(ids, texts, langs, sources) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_dedup_dense(out: str, seed: int, size: str = "full") -> dict:
    """Duplicate-dense documents + embeddings with Zipf cluster sizes.

    Every document belongs to a planted cluster: one base text plus
    members that are exact copies or near copies (2 word substitutions).
    Embedding clusters are bit-identical copies plus slightly perturbed
    ones. A held-out batch (``incoming_docs``/``incoming_embeddings``, and
    the documents again as the file stream ``docs_stream/``) is half exact
    copies of corpus texts / bit-identical corpus vectors and half fresh.
    Ground truth records every within-cluster pair, which of them are
    byte-identical, the bit-identical vector copies semantic dedup must
    remove, and the batch's expected admission decisions."""
    p = SIZES["dedup_dense"][size]
    rng = np.random.default_rng([seed, 2])
    latin, _deva = _vocab(rng)
    os.makedirs(out, exist_ok=True)

    texts, cluster_of = [], []
    for c, s in enumerate(_zipf_clusters(p["docs"], p["max_cluster"])):
        base = " ".join(
            _sentence(rng, latin, [], "latin", int(rng.integers(8, 12)))
            for _ in range(p["sentences"])
        )
        for m in range(s):
            if m == 0 or rng.random() < 0.5:
                texts.append(base)
            else:
                texts.append(_mutate(rng, base, latin, 2))
            cluster_of.append(c)
    perm = rng.permutation(len(texts))
    texts = [texts[k] for k in perm]
    cluster_of = [cluster_of[k] for k in perm]
    n = len(texts)
    ids = list(range(n))
    _write_table(
        _docs_table(ids, texts, ["en"] * n, [f"src{i % 7}" for i in ids]),
        os.path.join(out, "documents.parquet"),
    )
    inc_n = p["incoming"]
    dup_src = rng.choice(n, size=inc_n // 2, replace=False)
    inc_texts = [texts[k] for k in dup_src] + [
        " ".join(_sentence(rng, latin, [], "latin", 10)
                 for _ in range(p["sentences"]))
        for _ in range(inc_n - inc_n // 2)
    ]
    inc_ids = list(range(10_000_000, 10_000_000 + inc_n))
    inc_docs = _docs_table(inc_ids, inc_texts, ["en"] * inc_n,
                           ["incoming"] * inc_n)
    _write_table(inc_docs, os.path.join(out, "incoming_docs.parquet"))
    # the same batch as a file-source stream, two files
    sdir = os.path.join(out, "docs_stream")
    os.makedirs(sdir, exist_ok=True)
    shuffled = inc_docs.select(["doc_id", "text"]).take(rng.permutation(inc_n))
    half = -(-inc_n // 2)
    for f in range(2):
        _write_table(shuffled.slice(f * half, half),
                     os.path.join(sdir, f"docs-{f:03d}.parquet"))

    members: dict[int, list[int]] = {}
    for i, c in enumerate(cluster_of):
        members.setdefault(c, []).append(i)
    pairs, exact = [], []
    for ms in members.values():
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                pairs.append([ms[x], ms[y]])
                if texts[ms[x]] == texts[ms[y]]:
                    exact.append([ms[x], ms[y]])

    # copy_of[i]: the cluster whose base vector row i copies bit for bit,
    # None for a perturbed member
    vecs, vlabels, copy_of = [], [], []
    for c, s in enumerate(_zipf_clusters(p["vecs"], p["max_cluster"])):
        base = _unit(rng, 1)[0]
        for m in range(s):
            copy_of.append(c if m == 0 or rng.random() < 0.6 else None)
            if copy_of[-1] is not None:
                vecs.append(base)
            else:
                v = base.copy()
                v[CORPUS_DIMS] += rng.standard_normal(
                    len(range(EMB_DIM)[CORPUS_DIMS])) * 0.01
                vecs.append((v / np.linalg.norm(v)).astype(np.float32))
            vlabels.append(c % 10)
    vperm = rng.permutation(len(vecs))
    vecs = [vecs[k] for k in vperm]
    vlabels = [vlabels[k] for k in vperm]
    copy_of = [copy_of[k] for k in vperm]
    nv = len(vecs)
    # semantic dedup must remove every bit-identical copy of a base vector
    # but the lowest-id one (cosine 1.0, and equal vectors share a cluster)
    first_copy: dict[int, int] = {}
    sem_removed = []
    for i, c in enumerate(copy_of):
        if c is not None:
            if c in first_copy:
                sem_removed.append(i)
            else:
                first_copy[c] = i
    _write_table(_emb_table(list(range(nv)), vecs, vlabels),
                 os.path.join(out, "embeddings.parquet"))
    vdup = rng.choice(nv, size=inc_n // 2, replace=False)
    inc_vecs = [vecs[k] for k in vdup] + list(
        _unit(rng, inc_n - inc_n // 2, FRESH_DIMS)
    )
    _write_table(_emb_table(inc_ids, inc_vecs, [0] * inc_n),
                 os.path.join(out, "incoming_embeddings.parquet"))

    truth = {
        "docs": n,
        "vecs": nv,
        "clusters": len(members),
        "planted_pairs": pairs,
        "exact_pairs": exact,
        "sem_removed_copies": sem_removed,
        "exact_admission": {"exact_dup": inc_n // 2, "novel": inc_n - inc_n // 2},
        "ann_admission": {"near_dup": inc_n // 2, "novel": inc_n - inc_n // 2},
    }
    _write_truth(out, truth)
    return truth


GENERATORS = {
    "curate_crawl": gen_curate_crawl,
    "dedup_dense": gen_dedup_dense,
}


def ensure_inputs(root: str, workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Generate once per (workload, seed, size) under ``root``; later runs
    with the same seed reuse the files. The directory name carries a hash
    of the size parameters and of this module's source, so a changed
    generator never reuses stale inputs or ground truth. Returns (dir, truth)."""
    h = hashlib.sha256(json.dumps(SIZES[workload][size]).encode())
    with open(__file__, "rb") as fh:
        h.update(fh.read())
    params = h.hexdigest()[:12]
    out = os.path.join(root, f"{workload}-{size}-{params}-s{seed}")
    marker = os.path.join(out, "truth.json")
    if not os.path.exists(marker):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        GENERATORS[workload](tmp, seed, size)
        os.replace(tmp, out)
    with open(marker) as fh:
        return out, json.load(fh)
