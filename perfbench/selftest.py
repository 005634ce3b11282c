#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/selftest.py

1. Same seed, byte-identical inputs (and a different seed, different
   inputs) for every generator, the JVM-side cdc backlog included.
2. Each workload run with --corrupt must report correct=false: every
   output check can fail.
3. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark must exit non-zero without printing a result.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

FAILURES = []


def expect(ok, what):
    print(f"[selftest] {'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        FAILURES.append(what)


def tree_digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def cdc_backlog(cp, spec, seed, work):
    params = os.path.join(work, "params.properties")
    os.makedirs(work, exist_ok=True)
    with open(params, "w", encoding="utf-8") as f:
        for k, v in spec["workloads"]["cdc_stream"]["params"].items():
            f.write(f"cdc.{k}={v}\n")
        f.write(f"cdc.seed={seed}\n")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.Main", "--workload", "cdc_stream",
                    "--params", params, "--work", work, "--gen-only", "1"], check=True)
    return tree_digest(os.path.join(work, "cdc_in", "backlog"))


def determinism(spec, scratch):
    cp = run.build(os.getcwd(), scratch)
    for name, fn in (("llm_corpus", lambda s, d: gen.gen_llm(s, spec["workloads"]["llm_corpus"]["params"], d)),
                     ("cdc_stream", lambda s, d: cdc_backlog(cp, spec, s, d))):
        digests = []
        for i, seed in enumerate((7, 7, 8)):
            d = os.path.join(scratch, f"det_{name}_{i}")
            r = fn(seed, d)
            digests.append(r if name == "cdc_stream" else tree_digest(d))
        expect(digests[0] == digests[1], f"{name}: the same seed gives byte-identical inputs")
        expect(digests[0] != digests[2], f"{name}: another seed gives other inputs")


def corrupted(scratch):
    env = dict(os.environ, CARGO_TARGET_DIR=scratch)
    for w in (x["name"] for x in run.BENCH["workloads"]):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "3",
                            "--seconds", "2", "--corrupt"], env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            res = json.loads(last)
        except ValueError:
            res = {}
        expect(p.returncode == 0 and res.get("correct") is False and res.get("failed", 0) > 0,
               f"{w}: a corrupted output fails its check (correct={res.get('correct')}, "
               f"failed={res.get('failed')})")


def bare_directory(scratch):
    root = os.path.dirname(HERE)
    d = os.path.join(scratch, "bare")
    shutil.copytree(HERE, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), d)
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        cmd = json.load(f)["command"]
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    p = subprocess.run(cmd + ["--workload", "llm_corpus", "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=d, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=180)
    printed = any(l.startswith("{") for l in p.stdout.splitlines())
    expect(p.returncode != 0 and not printed,
           f"without the sources the benchmark exits {p.returncode} and prints no result")


def main():
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as f:
        spec = json.load(f)
    base = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=base)
    try:
        determinism(spec, base)
        bare_directory(scratch)
        corrupted(base)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        for d in os.listdir(base):
            if d.startswith("det_"):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    print(f"[selftest] {'all passed' if not FAILURES else f'{len(FAILURES)} FAILED'}")
    sys.exit(1 if FAILURES else 0)


if __name__ == "__main__":
    main()
