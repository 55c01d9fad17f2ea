#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Usage: python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

Writes parquet tables in the shapes the engine's fixtures use, plus the
planted truth the benchmark's oracles check against:

  embeddings.parquet  vec_id int64, embedding list<float> (dim 64), label int32
                      clustered: CLUSTERS gaussian centres, label = centre % 10
  documents.parquet   doc_id int64 (same id space as vec_id), text, lang,
                      source, n_chars; EXACT_RATE of the docs are verbatim
                      re-ingests (case/padding varied) and NEAR_RATE are
                      one-token edits of an original
  planted.parquet     doc_id, orig_id, kind ('exact' | 'near')
  anchors.parquet     anchor_id (corpus_build's fixed triplet anchors)
  queries.parquet     qid, embedding (ivf_query; perturbed corpus vectors
                      drawn Zipf-skewed over centres)
  arrivals.parquet    step, vec_id, embedding, text, dup_of (corpus_build;
                      dup_of = standing doc a verbatim re-ingest repeats,
                      -1 for new content)

The same seed gives byte-identical files. Only these files reach the
program under test.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTERS = 64
LABELS = 10
VOCAB = 4000
LANGS = ["de", "en", "es", "fr", "zh"]
EXACT_RATE = 0.05
NEAR_RATE = 0.05

# Per-workload input sizes. Each is chosen so that one measured
# operation costs enough data work to time, while a whole run (JVM
# start, set-up, warm-up, measured window, checks) stays under about a minute.
SIZES = {
    "corpus_build": dict(n=2000, anchors=100, steps=2, step_rows=100, reingest=0.1),
    "ivf_query": dict(n=1000, queries=4096),
}


def vectors(rng, n, centres, noise):
    cid = rng.integers(0, CLUSTERS, n)
    x = centres[cid] + rng.normal(0.0, noise, (n, DIM))
    return x.astype(np.float32), cid


def words(rng, n_docs):
    ranks = np.arange(VOCAB)
    p = 1.0 / (ranks + 10.0)
    p /= p.sum()
    lens = rng.integers(30, 81, n_docs)
    toks = rng.choice(VOCAB, size=int(lens.sum()), p=p)
    out, at = [], 0
    for ln in lens:
        out.append(toks[at:at + ln].copy())
        at += ln
    return out


def text_of(toks):
    return " ".join(f"w{t}" for t in toks)


def vary_case(rng, s):
    r = rng.integers(0, 3)
    return s if r == 0 else (s.upper() if r == 1 else f"  {s} ")


def documents(rng, n, ids):
    """n documents over `ids`; returns (texts, langs, planted rows)."""
    toks = words(rng, n)
    langs = rng.integers(0, len(LANGS), n)
    order = rng.permutation(n)
    n_exact, n_near = int(n * EXACT_RATE), int(n * NEAR_RATE)
    # Originals are the first positions of a permutation; each planted
    # copy takes the slot of a later position and repeats an original,
    # language included (near-duplicate search is blocked by language).
    n_orig = n - n_exact - n_near
    texts = [text_of(t) for t in toks]
    planted = []
    for j, slot in enumerate(order[n_orig:]):
        src = order[rng.integers(0, n_orig)]
        langs[slot] = langs[src]
        if j < n_exact:
            texts[slot] = vary_case(rng, texts[src])
            kind = "exact"
        else:
            t = toks[src].copy()
            pos = rng.integers(1, len(t) - 1)
            new = rng.integers(0, VOCAB)
            while new == t[pos]:
                new = rng.integers(0, VOCAB)
            t[pos] = new
            texts[slot] = text_of(t)
            kind = "near"
        planted.append((int(ids[slot]), int(ids[src]), kind))
    return texts, [LANGS[i] for i in langs], planted


def vec_array(x):
    offsets = pa.array(np.arange(0, x.size + 1, DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(x.ravel(), pa.float32()))


def emb_table(ids, x, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": vec_array(x),
        "label": pa.array(labels, pa.int32()),
    })


def doc_table(ids, texts, langs):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   compression="snappy", store_schema=False)


def generate(workload, seed, out):
    size = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    os.makedirs(out, exist_ok=True)
    centres = rng.normal(0.0, 1.0, (CLUSTERS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    n = size["n"]
    ids = np.arange(n, dtype=np.int64)
    x, cid = vectors(rng, n, centres, 0.12)
    write(out, "embeddings", emb_table(ids, x, (cid % LABELS).astype(np.int32)))
    texts, langs, planted = documents(rng, n, ids)
    write(out, "documents", doc_table(ids, texts, langs))
    write(out, "planted", pa.table({
        "doc_id": pa.array([p[0] for p in planted], pa.int64()),
        "orig_id": pa.array([p[1] for p in planted], pa.int64()),
        "kind": pa.array([p[2] for p in planted], pa.string()),
    }))
    meta = dict(workload=workload, seed=seed, n=n, dim=DIM,
                centres=CLUSTERS, labels=LABELS, planted=len(planted))

    if workload == "corpus_build":
        anchors = np.sort(rng.choice(n, size["anchors"], replace=False))
        write(out, "anchors", pa.table({"anchor_id": pa.array(anchors, pa.int64())}))
        meta["anchors"] = int(size["anchors"])

    if workload == "ivf_query":
        nq = size["queries"]
        p = 1.0 / np.arange(1, CLUSTERS + 1) ** 1.1
        p /= p.sum()
        hot = rng.permutation(CLUSTERS)[rng.choice(CLUSTERS, nq, p=p)]
        members = [np.flatnonzero(cid == c) for c in range(CLUSTERS)]
        src = np.array([members[c][rng.integers(0, len(members[c]))] for c in hot])
        q = (x[src] + rng.normal(0.0, 0.04, (nq, DIM))).astype(np.float32)
        write(out, "queries", pa.table({
            "qid": pa.array(np.arange(nq, dtype=np.int64) + 10**9, pa.int64()),
            "embedding": vec_array(q),
        }))
        meta["queries"] = nq

    if "steps" in size:
        steps, rows = size["steps"], size["step_rows"]
        m = steps * rows
        aid = np.arange(m, dtype=np.int64) + n
        ax, _ = vectors(rng, m, centres, 0.12)
        atexts = [text_of(t) for t in words(rng, m)]
        dup_of = np.full(m, -1, dtype=np.int64)
        re = rng.random(m) < size["reingest"]
        dup_of[re] = rng.integers(0, n, int(re.sum()))
        # A re-ingest repeats a standing document verbatim; when that
        # document is itself a planted copy, the survivor is the
        # lowest id holding the same normalised text.
        canon = {}
        for i, t in enumerate(texts):
            canon.setdefault(t.strip().lower(), i)
        for i in np.flatnonzero(re):
            atexts[i] = texts[dup_of[i]]
            dup_of[i] = canon[texts[dup_of[i]].strip().lower()]
        write(out, "arrivals", pa.table({
            "step": pa.array(np.repeat(np.arange(steps, dtype=np.int32), rows), pa.int32()),
            "vec_id": pa.array(aid, pa.int64()),
            "embedding": vec_array(ax),
            "text": pa.array(atexts, pa.string()),
            "dup_of": pa.array(dup_of, pa.int64()),
        }))
        meta.update(steps=steps, step_rows=rows)

    return meta


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
