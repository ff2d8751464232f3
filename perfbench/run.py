#!/usr/bin/env python3
"""The repository benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload convert|geo|dedup --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --freeze WORKLOAD --seeds A-B [--small]

A run builds the program and the benchmark from source once per checkout
(sbt, offline), generates the workload's inputs from the seed in a process of
its own, then starts the measured JVM on those files alone. The last stdout
line is one JSON object: the output checks' counts and, by name and unit, the
end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1). Build files, inputs, logs and per-run details (config stamp,
samples, plan times, spans) go under $CARGO_TARGET_DIR, default .bench_build.

--smoke runs every workload on tiny inputs, checks that each named metric is
printed with its unit and that a corrupted fingerprint counts as a failed op.
--freeze records the output fingerprints of seeds A..B into expected.json;
run it on the commit whose outputs are the reference.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
EXPECTED = os.path.join(BENCH, "expected.json")
HEAP = "4g"
T0 = time.monotonic()

# Input sizes: (full, small). The smoke test runs on the small ones.
SIZES = {
    "convert": ({"nodes": 30_000}, {"nodes": 5_000}),
    "geo": ({"docs": 2_500, "mult": 100}, {"docs": 400, "mult": 25}),
    "dedup": ({"docs": 1_500, "vecs": 600, "mult": 20}, {"docs": 400, "vecs": 200, "mult": 10}),
}

# Which workload runs each per-layer metric; a run reports 0 for the layers
# its workload never enters.
OPS = {
    "convert": ["convert", "oma_scan"],
    "geo": ["tile_assign", "skew_agg", "pip_join_10k", "dist_join_1m", "knn"],
    "dedup": ["span_dup_100k", "minhash_lsh", "dup_groups", "kmeans_200k", "ann_scale", "cosine_dup"],
}
PREFIXES = {"convert": ["oma.", "convert."], "geo": ["geo.", "sources.image."], "dedup": ["dedup."]}


def owner(metric):
    for wl, ops in OPS.items():
        if any(metric == f"{op}_s" or metric.startswith(op + ".") for op in ops):
            return wl
        if any(metric.startswith(p) for p in PREFIXES[wl]):
            return wl
    return None  # measured on every workload


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def left(limit=170):
    """Seconds left of a run's limit, counted from T0: the start, or the end
    of a build."""
    return limit - (time.monotonic() - T0)


def run(cmd, log, timeout, cwd=None, env=None, capture=True):
    """Runs cmd in its own process group, killing the group on timeout;
    stderr, and stdout unless captured, go to the log."""
    with open(log, "ab") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE if capture else lf,
                             stderr=lf, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} timed out; see {log}", 5)
    return p.returncode, (out or b"").decode("utf-8", "replace")


# ---- build ---------------------------------------------------------------------

def source_hash():
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")] if d != top else \
                [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles program and benchmark; returns (classpath, JVM options)."""
    launch = os.path.join(BENCH, "target", "launch")
    stamp = os.path.join(WORK, "build.stamp")
    want = source_hash()
    have = open(stamp).read() if os.path.exists(stamp) else None
    if have != want or not os.path.exists(os.path.join(launch, "classpath.txt")):
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.repository.config="
                            + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
        for k in [k for k in env if k.startswith("SPARK_")]:
            del env[k]
        log = os.path.join(WORK, "logs", "build.log")
        rc, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFiles"], log, left(880),
                    cwd=BENCH, env=env, capture=False)
        if rc != 0:
            fail(f"build failed; see {log}", 3)
        with open(stamp, "w") as fh:
            fh.write(want)
    cp = open(os.path.join(launch, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(launch, "javaopts.txt")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    return cp, opts


# ---- inputs --------------------------------------------------------------------

VOCAB = ("spark window merge table column vector stream value data small join filter big group hash "
         "customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]


def gen_documents(seed, n, path):
    """documents with the shape of the sf0.1 table: 10-100 words drawn from a
    30-word vocabulary, and one in twenty docs a copy of another plus " dup"."""
    rng = np.random.default_rng([seed, 1])
    # the seed moves doc ids over [0, 1e6) but keeps each id's residue mod 3,
    # 5, 7 and 97, by which the dedup queries plant and hold out docs; the 20x
    # span_dup replication adds rep * 1e6
    m = 3 * 5 * 7 * 97
    ids = np.arange(n) + m * rng.integers(0, (1_000_000 - n) // m + 1, size=n)
    n_dup = n // 20
    lens = rng.integers(10, 101, size=n - n_dup)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    base = [" ".join(w) for w in np.split(words, cuts)]
    texts = base + [base[i] + " dup" for i in rng.integers(0, len(base), size=n_dup)]
    texts = [texts[i] for i in rng.permutation(n)]
    lang = np.array(LANGS)[rng.choice(5, size=n, p=[0.41, 0.15, 0.15, 0.15, 0.14])]
    t = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    pq.write_table(t, path)


def gen_embeddings(seed, n, path, dim=64, k=10):
    """embeddings with the shape of the sf0.1 table: random unit vectors in 64
    dimensions and k = 10 labels. sf0.1's labels carry no structure: a
    label's mean vector is as short as that of random vectors."""
    rng = np.random.default_rng([seed, 2])
    label = rng.integers(0, k, size=n)
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t = pa.table({
        # ids stay 0..n-1: ann_scale picks its queries by vec_id residue
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    pq.write_table(t, path)


def generate(wl, seed, small, cp):
    """Writes the input of (wl, seed) unless present; returns its directory,
    which is named after the generators' source too."""
    size = SIZES[wl][1 if small else 0]
    h = hashlib.sha1()
    for f in (__file__, os.path.join(BENCH, "src", "main", "scala", "perfbench", "Gen.scala")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    d = os.path.join(WORK, "inputs", "-".join([wl, str(seed)] + [f"{k}{v}" for k, v in size.items()] +
                                              [h.hexdigest()[:10]]))
    if os.path.exists(os.path.join(d, "done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if wl == "convert":
        rc, _ = run(["java", "-Xmx2g", "-cp", cp, "perfbench.Gen", str(seed), str(size["nodes"]),
                     os.path.join(d, "planet.o5m")], os.path.join(WORK, "logs", "gen.log"), left())
        if rc != 0:
            fail("input generation failed", 4)
    else:
        gen_documents(seed, size["docs"], os.path.join(d, "documents.parquet"))
    if wl == "dedup":
        gen_embeddings(seed, size["vecs"], os.path.join(d, "embeddings.parquet"))
    open(os.path.join(d, "done"), "w").close()
    return d


# ---- the measured process ------------------------------------------------------

def expected_for(wl, seed, small):
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as fh:
        return json.load(fh).get(wl + ("-small" if small else ""), {}).get(str(seed), {})


def measure(wl, seed, seconds, trace, small=False, corrupt=None, fingerprints=None):
    """Runs the measured JVM once; returns (its result line, details)."""
    global T0
    for sub in ("logs", "tmp", "run"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    cp, opts = build()
    T0 = time.monotonic()
    inp = generate(wl, seed, small, cp)
    tag = f"{wl}-{seed}-{trace}" + ("-small" if small else "")
    rundir = os.path.join(WORK, "run", tag)
    tmp = os.path.join(WORK, "tmp", tag)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(rundir, exist_ok=True)
    os.makedirs(tmp)
    exp = os.path.join(rundir, "expected.tsv")
    with open(exp, "w") as fh:
        fps = expected_for(wl, seed, small) if fingerprints is None else fingerprints
        fh.writelines(f"{op}\t{fp}\n" for op, fp in fps.items())
    out = os.path.join(rundir, "result.json")
    mult = SIZES[wl][1 if small else 0].get("mult", 1)
    cmd = ["java", *opts, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", cp, "perfbench.Main", "--workload", wl, "--seconds", str(seconds), "--trace", str(trace),
           "--input", inp, "--mult", str(mult), "--expected", exp, "--out", out]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    rc, stdout = run(cmd, os.path.join(WORK, "logs", tag + ".log"), left(), cwd=rundir, env=env)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [x for x in stdout.splitlines() if x.startswith("{")]
    if rc != 0 or not lines:
        fail(f"measured process exited {rc}; see {os.path.join(WORK, 'logs', tag + '.log')}", 6)
    with open(out) as fh:
        return json.loads(lines[-1]), json.load(fh)


def result_line(wl, res, trace, spec):
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        v = res["values"].get(name)
        if v is None:
            if trace and owner(name) not in (None, wl):
                v = 0.0
            elif res["failed"] == 0:
                fail(f"metric {name} was not measured", 7)
            # else an op failed before its metrics were taken: null, and the
            # run still reports its failures
        metrics[name] = {"value": v, "unit": m["unit"]}
    return {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def preflight():
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from the root of a full checkout")


# ---- modes ---------------------------------------------------------------------

def smoke():
    """Tiny inputs, every workload: each metric by name and unit, outputs
    correct, and a corrupted fingerprint counted as a failed op."""
    spec = load_spec()
    for wl in OPS:
        for trace, corrupt in ((1, None), (0, OPS[wl][0])):
            res, _ = measure(wl, 1, 1, trace, small=True, corrupt=corrupt)
            line = result_line(wl, res, trace, spec)
            names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
            assert list(line["metrics"]) == names, (wl, trace)
            assert all(isinstance(line["metrics"][n]["value"], (int, float)) and line["metrics"][n]["unit"]
                       for n in names), (wl, trace)
            if corrupt:
                assert not res["correct"] and res["failed"] >= 1, (wl, res)
            else:
                assert res["correct"] and res["failed"] == 0, (wl, res)
        print(f"smoke {wl}: ok", flush=True)
    print("smoke: ok")


def freeze(wl, seeds, small):
    key = wl + ("-small" if small else "")
    table = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    for seed in seeds:
        res, detail = measure(wl, seed, 0, 0, small=small, fingerprints={})
        if not res["correct"]:
            fail(f"seed {seed}: {detail['problems']}", 8)
        table.setdefault(key, {})[str(seed)] = {op: detail["ops"][op]["fingerprint"] for op in OPS[wl]}
        print(f"froze {key} seed {seed}", flush=True)
    table[key] = dict(sorted(table[key].items(), key=lambda kv: int(kv[0])))
    with open(EXPECTED, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(OPS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--freeze", choices=sorted(OPS))
    ap.add_argument("--seeds")
    ap.add_argument("--small", action="store_true")
    a = ap.parse_args()
    preflight()
    if a.smoke:
        smoke()
    elif a.freeze:
        lo, hi = map(int, a.seeds.split("-"))
        freeze(a.freeze, range(lo, hi + 1), a.small)
    else:
        if None in (a.workload, a.seed, a.seconds, a.trace):
            ap.error("--workload, --seed, --seconds and --trace are required")
        res, detail = measure(a.workload, a.seed, a.seconds, a.trace)
        stamp = " ".join(f"{k}={v}" for k, v in detail["stamp"].items())
        print(f"stamp: {stamp}")
        for p in detail["problems"]:
            print(f"check: {p}")
        print(json.dumps(result_line(a.workload, res, a.trace, load_spec())))


if __name__ == "__main__":
    main()
