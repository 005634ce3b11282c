#!/usr/bin/env python3
"""Graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds Graft's main classes and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler
shipped in $SPARK_HOME/jars, into $CARGO_TARGET_DIR (default
.bench_build), reusing the build while the sources are unchanged. It
then generates the workload's inputs from --seed, runs one JVM that sets
up a local[nproc] Graft session several times, measures an untraced
window of --seconds (and with --trace 1 a traced window and a second
untraced one after it), checks every output, and prints a report
followed by one JSON line: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Metric names and units come from
BENCHMARK.json; workload parameters and what each metric means, from
perfbench/spec.json.

--corrupt (self-test) damages one output per check before comparing; the
run must then report correct=false.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)

import check  # noqa: E402
import gen  # noqa: E402

SETUPS = 2
BUDGET_S = 170  # a run must end within 180 s once built
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
PERCENTILES = (99, 95, 90, 75, 50)


def log(msg):
    print(f"[graftbench] {msg}", flush=True)


def fail(msg):
    print(f"[graftbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the spark-submit on PATH: Spark
    and the Scala compiler the build uses."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark distribution found: set SPARK_HOME")
    return jars


def sources(root):
    main = [os.path.join(root, "src", "main", d) for d in ("scala", "java")]
    bench = os.path.join(HERE, "src")
    for d in main[:1] + [bench]:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, root)}: run from the repository root")

    def walk(d, exts):
        out = []
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(exts)]
        return sorted(out)
    return (walk(main[0], ".scala") + walk(main[1], ".java"), walk(main[1], ".java"),
            walk(bench, ".scala"))


def _digest(files, seed=b""):
    h = hashlib.sha256(seed)
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(steps, out, label, root):
    """Run the compile steps into a fresh `out` unless it is already built."""
    if os.path.exists(os.path.join(out, "ok")):
        return
    prefix = os.path.basename(out).split("-")[0] + "-"
    parent = os.path.dirname(out)
    for old in os.listdir(parent):
        if old.startswith(prefix):
            shutil.rmtree(os.path.join(parent, old))
    os.makedirs(out)
    t0 = time.time()
    log(f"building {label} into {os.path.relpath(out, root)}")
    for cmd in steps:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail(f"building {label} failed")
    open(os.path.join(out, "ok"), "w").close()
    log(f"built {label} in {time.time() - t0:.1f} s")


def build(root, out_dir):
    """Compile Graft (scalac over the Scala and Java sources, javac for the
    Java ones, then the resources) and the benchmark against it, each
    cached by a hash of its sources. Returns the classpath."""
    main_srcs, java_srcs, bench_srcs = sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    res_files = sorted(os.path.join(b, f) for b, _, fs in os.walk(resources) for f in fs)
    jars = f"{spark_jars()}/*"
    main_key = _digest(main_srcs + res_files)
    main_cls = os.path.join(out_dir, "main-" + main_key)
    bench_cls = os.path.join(out_dir, "bench-" + _digest(bench_srcs, main_key.encode()))
    scalac = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
              "-encoding", "UTF-8", "-nowarn"]
    steps = [scalac + ["-d", main_cls, "-classpath", jars] + main_srcs]
    if java_srcs:
        steps.append(["javac", "-J-XX:-UsePerfData", "-encoding", "UTF-8", "-nowarn", "-d", main_cls,
                       "-cp", f"{main_cls}:{jars}"] + java_srcs)
    if res_files:
        steps.append(["cp", "-r", resources + "/.", main_cls])
    _compile(steps, main_cls, f"Graft ({len(main_srcs)} files)", root)
    _compile([scalac + ["-d", bench_cls, "-classpath", f"{main_cls}:{jars}"] + bench_srcs],
             bench_cls, "the benchmark", root)
    return f"{bench_cls}:{main_cls}:{jars}"


# ----------------------------------------------------------------- metrics

def percentile(xs, p):
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """Highest standard percentile with at least ten samples beyond it."""
    n = len(xs)
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= 10:
            return percentile(xs, p), p
    return percentile(xs, 50), 50


def e2e(workload, ops, window):
    """(op latencies, throughput, labels) of one window."""
    ops = [o for o in ops if o["window"] == window]
    if workload == "llm_corpus":
        lat = [o["wall_s"] for o in ops if o["kind"] == "delta"]
        rates = [o["info"]["docs"] / o["wall_s"] for o in ops if o["kind"] == "corpus" and o["ok"]]
        thr = statistics.median(rates) if rates else 0.0
        names = ("delta_p50_s", "delta_tail_s", "corpus_docs_per_s", "docs/s")
    else:
        lat = [o["wall_s"] for o in ops if o["kind"] == "batch"]
        drains = [o["info"]["events"] / o["wall_s"] for o in ops if o["kind"] == "drain"]
        thr = statistics.median(drains) if drains else 0.0
        names = ("cdc_lat_p50_s", "cdc_lat_tail_s", "cdc_drain_eps", "events/s")
    return lat, thr, names


# --------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as f:
        wp = json.load(f)["workloads"][args.workload]["params"]
    out_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out_dir, exist_ok=True)
    cp = build(root, out_dir)
    t_start = time.time()

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(out_dir, "run", args.workload)
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    in_dir = os.path.join(run_dir, "in")
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} cores={cores}")

    # inputs: generated SETUPS times, each timed as part of a set-up
    gen_times = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        if args.workload == "llm_corpus":
            gen.gen_llm(args.seed, wp, os.path.join(in_dir, "llm"))
        gen_times.append(time.perf_counter() - t0)
    if args.workload == "llm_corpus":
        params = {"llm.in": os.path.join(in_dir, "llm"), "llm.docs": wp["docs"],
                  "llm.delta_count": wp["delta_count"], "llm.parallelism": cores,
                  "llm.ingest_conf": os.path.join(HERE, "jobs", "ingest.conf")}
    else:
        params = {f"cdc.{k}": v for k, v in wp.items()}
        params["cdc.seed"] = args.seed
    params_file = os.path.join(run_dir, "params.properties")
    with open(params_file, "w", encoding="utf-8") as f:
        for k, v in sorted(params.items()):
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")

    result_file = os.path.join(run_dir, "result.json")
    spans = os.path.join(out_dir, f"spans-{args.workload}.json")
    # the heap starts at a 1 GB floor and grows to a 3 GB ceiling with what
    # the program allocates and keeps, so peak RSS moves with heap use past
    # the floor; without the floor G1's early expansions made peak RSS
    # bimodal from run to run (see spec.json end_to_end)
    cmd = (["java", "-XX:-UsePerfData", "-Xms1g", "-Xmx3g", "-Xss8m"] +
           [x for o in ADD_OPENS for x in ("--add-opens", o)] +
           [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graftbench.Main", "--workload", args.workload, "--params", params_file,
            "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--setups", str(SETUPS), "--result", result_file,
            "--spans", spans] +
           (["--corrupt"] if args.corrupt else []))
    log_path = os.path.join(run_dir, "jvm.log")
    timeout = BUDGET_S - (time.time() - t_start) - 15
    with open(log_path, "w", encoding="utf-8") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(result_file):
        with open(log_path, encoding="utf-8", errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited with {rc}'}")
    with open(result_file, encoding="utf-8") as f:
        res = json.load(f)

    ops = res["ops"]
    for i, o in enumerate(ops):
        o["idx"] = i
    report(args, res, ops, gen_times, in_dir, spans)
    shutil.rmtree(run_dir, ignore_errors=True)


def run_checks(args, res, ops, in_dir):
    """Mark each operation whose output check fails; return check lines."""
    if args.workload == "llm_corpus":
        corpus = [(o["idx"], o["info"]["dir"]) for o in ops if o["kind"] == "corpus" and o["ok"]]
        deltas = [(o["idx"], o["info"]["dir"], o["info"]["delta"]) for o in ops
                  if o["kind"] == "delta" and o["ok"]]
        bad, lines = check.check_llm(os.path.join(in_dir, "llm"), corpus, deltas, args.corrupt)
        lines.insert(0, f"check llm_corpus: {len(corpus) + len(deltas) - len(bad)}/"
                        f"{len(corpus) + len(deltas)} corpus passes and deltas equal the DuckDB "
                        f"ingest oracle and the planted truth")
    else:
        bad, lines = set(), []
        for name, c in sorted(res["checks"].items()):
            lines.append(f"check cdc_stream {name}: {'ok' if c['ok'] else 'MISMATCH'} ({c['detail']})")
    for o in ops:
        if o["idx"] in bad:
            o["ok"] = False
    return lines


def counted(workload, ops):
    """The operations `attempted` counts: every measured operation; for
    cdc_stream the micro-batches plus any phase that threw."""
    if workload == "llm_corpus":
        return ops
    return [o for o in ops if o["kind"] in ("batch", "drain_batch") or
            (o["kind"].endswith("_phase") and not o["ok"])]


def report(args, res, ops, gen_times, in_dir, spans):
    check_lines = run_checks(args, res, ops, in_dir)
    for l in check_lines:
        log(l)
    for o in ops:
        if o.get("err"):
            log(f"operation {o['kind']}#{o['idx']} threw: {o['err']}")
    attempted = counted(args.workload, ops)
    failed = [o for o in attempted if not o["ok"]]
    n_att = max(1, len(attempted))
    correct = not failed and all(c["ok"] for c in res["checks"].values())

    setups = [g + s["session_s"] + s["prepare_s"] + s["warmup_s"] for g, s in zip(gen_times, res["setups"])]
    for i, (g, s) in enumerate(zip(gen_times, res["setups"])):
        log(f"setup {i + 1}: gen {g:.3f} s + session {s['session_s']:.3f} s + jvm-side inputs "
            f"{s['prepare_s']:.3f} s + warm-up {s['warmup_s']:.3f} s")
    for k, v in sorted(res["info"].items()):
        log(f"info {k}: {v}")

    win = res["windows"]

    def window_metrics(window):
        """The end-to-end metrics one window yields, with the workload's
        names for the generic ones and the tail's percentile and n."""
        lat, thr, names = e2e(args.workload, ops, window)
        if not lat:
            return {}, names, 0, 0
        t, p = tail(lat)
        return ({"op_p50_s": statistics.median(lat), "op_tail_s": t, "throughput_per_s": thr,
                 "heap_after_gc_peak_mb": win[window]["jvm.heap_peak_mb"]}, names, p, len(lat))

    m, names, p, n = window_metrics("untraced")
    m.update(setup_s=statistics.median(setups), peak_rss_mb=res["peak_rss_mb"])
    alias = {"op_p50_s": names[0], "op_tail_s": names[1], "throughput_per_s": names[2]}
    log(f"failed_ops_ratio = {len(failed) / n_att:.4f} ratio ({len(failed)} of {len(attempted)} operations)")
    e2e_units = {x["name"]: x["unit"] for x in BENCH["end_to_end"]}
    missing = [k for k in e2e_units if k not in m]
    if missing:
        fail(f"the untraced window yielded no samples for {', '.join(missing)}")
    for k in e2e_units:
        extra = f" (p{p}, n={n})" if k == "op_tail_s" else (f" (n={n})" if k == "op_p50_s" else "")
        shown_u = names[3] if k == "throughput_per_s" else e2e_units[k]
        log(f"{k} = {m[k]:.6g} {shown_u}  [{alias.get(k, k)}]{extra}")
    log(f"heap_after_gc_peak_mb = {m['heap_after_gc_peak_mb']:.6g} MB  (printed, not gated)")

    if args.trace:
        mt = window_metrics("traced")[0]
        ma = window_metrics("untraced_after")[0]
        log("tracing overhead (traced window minus the mean of the untraced windows before and after it):")
        for k in ("op_p50_s", "op_tail_s", "throughput_per_s", "heap_after_gc_peak_mb"):
            if k in m and k in mt and k in ma:
                base = (m[k] + ma[k]) / 2
                d = mt[k] - base
                log(f"  {k} [{alias.get(k, k)}]: {d:+.6g} ({d / base * 100 if base else 0:+.1f}%; "
                    f"untraced {m[k]:.6g} before, {ma[k]:.6g} after)")
        log("  setup_s: +0 (set-up runs before tracing starts)")
        log("  peak_rss_mb: not separable (one process peak over all windows)")
        for o in res["trace_ops"]:
            log(f"operation {o['op']}: wall {o['wall_s']:.3f} s, unattributed {o['unattributed_s']:.3f} s "
                f"({o['unattributed_s'] / o['wall_s'] * 100 if o['wall_s'] else 0:.1f}%)")
        for k, v in sorted(res["self_s"].items(), key=lambda kv: -kv[1]):
            log(f"self time {k} = {v:.4f} s per operation")
        for kind, lm in sorted(res["layers_by_op"].items()):
            log(f"exec by operation {kind}: " + ", ".join(f"{k}={v:.4g}" for k, v in sorted(lm.items())))
        log(f"span trees with self times: {spans}")
        layers = res["layers"]
        final_metrics = {}
        for x in BENCH["per_layer"]:
            final_metrics[x["name"]] = {"value": float(layers.get(x["name"], 0.0)), "unit": x["unit"]}
            log(f"layer {x['name']} = {final_metrics[x['name']]['value']:.6g} {x['unit']}")
    else:
        final_metrics = {k: {"value": float(m[k]), "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({"correct": bool(correct), "attempted": len(attempted), "failed": len(failed),
                      "metrics": final_metrics}), flush=True)


if __name__ == "__main__":
    main()
