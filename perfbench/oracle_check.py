#!/usr/bin/env python3
"""Cross-checks the dedup ops that are gated queries against the DuckDB oracle,
on the benchmark's own generated input. Run from the root of a checkout:

    python3 perfbench/oracle_check.py --seed N [--small]

`minhash_lsh`, `dup_groups` and `cosine_dup` run the gated queries
`d_minhash_lsh`, `d_dup_groups` and `e_cosine_dup` at multiplier 1. This dumps
their results with `graft.Verify` and compares them with the oracle SQL through
`tools/compare.py`, so the fingerprints in expected.json rest on results the
oracle agrees with.
"""
import argparse
import os
import shutil
import subprocess
import sys

import run

GATED = ["d_minhash_lsh", "d_dup_groups", "e_cosine_dup"]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--small", action="store_true")
    a = ap.parse_args()
    run.preflight()
    os.makedirs(os.path.join(run.WORK, "logs"), exist_ok=True)
    cp, opts = run.build()
    inp = run.generate("dedup", a.seed, a.small, cp)
    out = os.path.join(run.WORK, "oracle", f"dedup-{a.seed}" + ("-small" if a.small else ""))
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(run.WORK, "tmp", "oracle")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    rc, _ = run.run(["java", *opts, f"-Xmx{run.HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                     "-cp", cp, "graft.Verify", inp, out, ",".join(GATED)],
                    os.path.join(run.WORK, "logs", "oracle.log"), 600, cwd=tmp, env=env)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        run.fail("graft.Verify failed", 3)
    cmp = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "compare.py"), inp, out],
                         capture_output=True, text=True)
    verdict = {line.split()[1].rstrip(":"): line.split()[0] for line in cmp.stdout.splitlines()
               if line.startswith(("OK ", "FAIL "))}
    for q in GATED:
        print(f"{verdict.get(q, 'MISSING'):5} {q}")
    sys.exit(0 if all(verdict.get(q) == "OK" for q in GATED) else 1)


if __name__ == "__main__":
    main()
