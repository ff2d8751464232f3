#!/usr/bin/env python3
"""Compares the generated embeddings with a reference table on the counts the
dedup workload's vector ops depend on. Run from the root of a checkout:

    python3 perfbench/embed_shape.py --reference DIR [--seeds 1-5]

DIR holds the reference `embeddings.parquet` (sf0.1's has 2000 rows). Both
tables are compared at two sizes: the reference's own, and the benchmark's,
for which the reference keeps its rows with vec_id < n. The counts mirror the
candidate generation of graft.operators.EmbedQueries, in numpy:

- cosine_dup (`e_cosine_dup`): the 1-in-10 planted copies, 4 bands of 8
  hyperplane bits, buckets over 256 skipped; the distinct candidate pairs,
  the largest bucket, and the pairs the exact cos >= 0.9 test confirms;
- ann_scale (`annTopkScaled` at the benchmark's multiplier): the rows the
  bucket plus one-bit multiprobe join produces, and the largest bucket;
- kmeans_200k (`kmeansScaled` at the same multiplier, k = 64, 2 Lloyd rounds
  from the hash-ranked sample): the cluster sizes, as largest, smallest and
  coefficient of variation.

The confirmed pairs and the non-empty clusters are the row counts of the ops'
outputs, so for the seeds in expected.json the script checks them against the
row counts frozen there.
"""
import argparse
import hashlib
import json
import os
import statistics
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq

import run

DIM = 64
MULT = run.SIZES["dedup"][0]["mult"]


def h60(s):
    """graft.core.PortableHash.h60: the first 15 hex digits of the md5."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


PLANES = np.array([[h60(f"hp:{p}:{d}") % 2001 - 1000 for d in range(DIM)] for p in range(32)], dtype=np.float64)


def load(path, n=None):
    """vec_ids and milli-quantized vectors (round half away from zero)."""
    t = pq.read_table(path)
    ids = t.column("vec_id").to_numpy().astype(np.int64)
    x = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64) * 1000
    v = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)
    if n is not None:
        ids, v = ids[ids < n], v[ids < n]
    return ids, v


def bits(v, until):
    """Sign bits of hyperplanes [0, until): bit p set where plane p . v >= 0.
    Products stay below 2^53, so float64 is exact."""
    return ((v.astype(np.float64) @ PLANES[:until].T >= 0).astype(np.int64) << np.arange(until)).sum(1)


def ann_bits(n):
    return 8 + sum(1 for b in range(9, 33) if n > 64 * (1 << (b - 1)))


def scaled(ids, v):
    """The replicated corpus: id * MULT + rep, dimension rep % 64 nudged by
    rep % 7 - 3."""
    n = len(ids)
    rep = np.tile(np.arange(MULT), n)
    base = np.repeat(np.arange(n), MULT)
    sv = v[base].copy()
    sv[np.arange(n * MULT), rep % DIM] += rep % 7 - 3
    return ids[base] * MULT + rep, sv


def cosine(ids, v):
    planted = ids % 10 == 0
    ids = np.concatenate([ids, ids[planted] + 1_000_000])
    v = np.concatenate([v, v[planted]])
    b = bits(v, 32)
    keys = np.concatenate([256 * g + ((b >> (8 * g)) & 255) for g in range(4)])
    rows = np.tile(np.arange(len(ids)), 4)
    _, bucket, size = np.unique(keys, return_inverse=True, return_counts=True)
    keep = size[bucket] <= 256
    order = np.argsort(bucket[keep], kind="stable")
    r, k = rows[keep][order], bucket[keep][order]
    starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    pairs = set()
    for s, e in zip(starts, np.r_[starts[1:], len(k)]):
        m = sorted(r[s:e], key=lambda i: ids[i])
        pairs.update((m[i], m[j]) for i in range(len(m)) for j in range(i + 1, len(m)))
    p = np.array(sorted(pairs))
    va, vb = v[p[:, 0]].astype(np.float64), v[p[:, 1]].astype(np.float64)
    dot, na, nb = (va * vb).sum(1), (va * va).sum(1), (vb * vb).sum(1)
    confirmed = int(((dot >= 0) & (100 * dot * dot >= 81 * na * nb)).sum())
    return {"cos_candidates": len(p), "cos_max_bucket": int(size.max()), "cos_pairs": confirmed}


def ann(ids, v):
    sid, sv = scaled(ids, v)
    nb = ann_bits(len(ids) * MULT)
    b = bits(sv, nb)
    size = np.bincount(b, minlength=1 << nb)
    bq = b[sid % (25 * MULT) == 0]
    # the query's own bucket less the query itself, then one flipped bit each
    rows = size[bq].sum() - len(bq) + sum(size[bq ^ (1 << i)].sum() for i in range(nb))
    return {"ann_queries": len(bq), "ann_candidates": int(rows), "ann_max_bucket": int(size.max())}


def kmeans(ids, v, k=64, rounds=2):
    sid, sv = scaled(ids, v)
    h = np.array([h60(f"kmc:{i}") for i in sid], dtype=np.int64)
    c = sv[np.lexsort((sid, h))[:k]].copy()
    x = sv.astype(np.float64)
    xx = (x * x).sum(1)

    def assign(c):
        cf = c.astype(np.float64)
        return (xx[:, None] - 2 * x @ cf.T + (cf * cf).sum(1)[None, :]).argmin(1)

    for _ in range(rounds):
        j = assign(c)
        n = np.bincount(j, minlength=k)
        s = np.zeros((k, DIM), dtype=np.int64)
        np.add.at(s, j, sv)
        # truncating integer division; empty clusters keep their centre
        nz = n > 0
        c[nz] = np.sign(s[nz]) * (np.abs(s[nz]) // n[nz, None])
    sizes = np.bincount(assign(c), minlength=k)
    sizes = sizes[sizes > 0]
    return {"km_clusters": len(sizes), "km_max": int(sizes.max()), "km_min": int(sizes.min()),
            "km_cv": round(float(sizes.std() / sizes.mean()), 3)}


def shape(path, n=None):
    ids, v = load(path, n)
    return {**cosine(ids, v), **ann(ids, v), **kmeans(ids, v)}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--reference", required=True)
    ap.add_argument("--seeds", default="1-5")
    a = ap.parse_args()
    lo, hi = map(int, a.seeds.split("-"))
    ref = os.path.join(a.reference, "embeddings.parquet")
    ref_n = pq.read_metadata(ref).num_rows
    bench_n = run.SIZES["dedup"][0]["vecs"]
    frozen = json.load(open(run.EXPECTED)).get("dedup", {}) if os.path.exists(run.EXPECTED) else {}
    ok = True
    with tempfile.TemporaryDirectory(dir=run.WORK if os.path.isdir(run.WORK) else None) as tmp:
        for n in (bench_n, ref_n):
            want = shape(ref, n)
            print(f"n={n} reference: {json.dumps(want)}")
            got = []
            for seed in range(lo, hi + 1):
                p = os.path.join(tmp, f"e{seed}-{n}.parquet")
                run.gen_embeddings(seed, n, p)
                got.append(shape(p))
                print(f"n={n} seed {seed}:   {json.dumps(got[-1])}", flush=True)
                fp = frozen.get(str(seed))
                if n == bench_n and fp:
                    rows = {"cos_pairs": "cosine_dup", "km_clusters": "kmeans_200k"}
                    for key, op in rows.items():
                        if int(fp[op].split(":")[0]) != got[-1][key]:
                            ok = False
                            print(f"  {key} {got[-1][key]} != {op} row count in expected.json {fp[op]}")
            med = {key: statistics.median(g[key] for g in got) for key in want}
            print(f"n={n} generated median / reference: " +
                  json.dumps({key: round(med[key] / want[key], 3) for key in want if want[key]}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
