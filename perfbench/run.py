#!/usr/bin/env python3
"""The repository benchmark: one command per run.

    python3 perfbench/run.py --workload batch|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the benchmark's
client from source into .bench_build/ (once per source tree), writes the
fixed tables (once per scale), makes the run's inputs from the seed, runs the
client (a JVM, one thread, closed loop) for S seconds, checks every op's
output, and prints one JSON line: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). It exits non-zero if
any op failed or the run could not be made. perfbench/README.md documents
the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402

CORES = 4
SETUPS = 3
WARM_PASSES = 2
WORKLOADS = ["batch", "ingest"]
SCALE = 0.05  # of the tables batch reads
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SPARK_JARS = "/opt/spark/jars/*"


class BenchError(Exception):
    pass


def digest(paths, extra="", root=HERE):
    """Digest of files' names (relative to root) and contents."""
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root, out):
    """Compile src/main/scala (the program) and perfbench/src (the client)
    with scalac into out/build-<digest of the sources>/classes.jar, then
    record which classes a batch warm pass loads into a class-data
    sharing archive (app.jsa) that every run maps, so that a run spends less
    of its time loading classes. Reused while the sources are unchanged."""
    program = glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
    if not program:
        raise BenchError("no program sources under src/main/scala: not a checkout")
    client = glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
    bdir = os.path.join(out, "build-" + digest(program + client, root=root))
    if os.path.exists(os.path.join(bdir, "complete")):
        return bdir
    for old in glob.glob(os.path.join(out, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(bdir, "classes")
    os.makedirs(classes)
    listing = os.path.join(bdir, "sources.txt")
    with open(listing, "w") as f:
        f.write("\n".join(program + client))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={bdir}",
         "-cp", SPARK_JARS,
         "scala.tools.nsc.Main", "-nowarn", "-classpath", SPARK_JARS,
         "-d", classes, "@" + listing],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("build failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(os.path.join(bdir, "classes.jar"), "w") as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    run_dir = os.path.join(bdir, "train")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cfg = dict(inputs.workload_inputs("batch", 0), workload="batch", seed=0,
               seconds=0, trace=0, cores=CORES, setups=1, warm_passes=1,
               data_dir=tables(out), run_dir=run_dir,
               tmp_dir=os.path.join(run_dir, "tmp"), verify=False,
               inject_throw=[], inject_wrong=[], inject_reapply=False)
    run_client(bdir, cfg, run_dir, [f"-XX:ArchiveClassesAtExit={bdir}/app.jsa"])
    shutil.rmtree(run_dir)
    open(os.path.join(bdir, "complete"), "w").close()
    return bdir


def tables(out):
    """The fixed tables at scale SCALE, written once per generator version."""
    import gen_tables
    d = os.path.join(out, f"data-{digest([gen_tables.__file__], str(SCALE))}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.generate(SCALE, tmp)
        os.rename(tmp, d)
    return d


def run_client(build_dir, cfg, run_dir, jvm_flags=()):
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=200",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={cfg['tmp_dir']}",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *jvm_flags]
    archive = os.path.join(build_dir, "app.jsa")
    if not jvm_flags and os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    jars = [os.path.join(build_dir, "classes.jar")] + sorted(glob.glob(SPARK_JARS + ".jar"))
    cmd += ["-cp", ":".join(jars), "perfbench.Harness", cfg_path]
    # the run's Spark settings come from the client alone
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    log = os.path.join(run_dir, "client.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"client did not finish in {JVM_TIMEOUT_S} s")
    if r.returncode != 0:
        with open(log) as lf:
            raise BenchError("client failed:\n" + lf.read()[-4000:])


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_queries(ops, refs):
    """An op fails when it threw or its output fingerprint differs from the
    verified output of its query."""
    for o in ops:
        if o["error"] is None and o["output"] != refs.get(o["name"]):
            o["error"] = f"wrong output: {o['output']} != {refs.get(o['name'])}"


def verify_queries(data_dir, run_dir):
    """Fingerprints of the verification outputs, each checked against the
    DuckDB oracle where the query has one; queries with no oracle
    (estimators) are held to their own verified fingerprint."""
    import oracle
    refs, errors = {}, {}
    con = oracle.connect(data_dir)
    for v in read_jsonl(os.path.join(run_dir, "verify.jsonl")):
        if "error" in v:
            errors[v["name"]] = v["error"]
            continue
        if v["oracle"]:
            bad = oracle.compare(con, v["oracle"], os.path.join(run_dir, "verify", v["name"]))
            if bad:
                errors[v["name"]] = "oracle mismatch: " + bad
                continue
        refs[v["name"]] = v["fp"]
    return refs, errors


def check_ingest(ops, summary, run_dir, seed):
    """Each op's read-back must equal the skill counts of the expected table
    after its batch; each pass's final JDBC and shaped tables must equal the
    latest version of every listing offered up to its last batch."""
    _, offered = inputs.ingest_plan(seed)
    expected = inputs.expected_states(offered)
    index = {f"batch-{i}": i for i in range(len(offered))}
    for o in ops:
        if o["error"] is None and o["output"] != expected[index[o["name"]]][1]:
            o["error"] = "wrong skill counts read back"
    for p in summary["passes"]:
        state = json.load(open(os.path.join(run_dir, p["state"])))
        done = state["batches_done"]
        want = expected[done - 1][0] if done else []
        bad = state.get("error") or next(
            (f"{sink} table differs from the expected latest-per-key"
             for sink in ("jdbc", "shaped") if sorted(state[sink]) != want), None)
        if bad:
            for o in ops:
                if o["pass"] == p["pass"] and o["error"] is None:
                    o["error"] = bad
        p["stored_bytes"] = state.get("shaped_bytes", 0)
        p["user_bytes"] = sum(len(str(x).encode()) for r in want for x in r)


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    i = int(pos)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (pos - i)


def hd_quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile of a non-empty list: the mean
    of all order statistics weighted by a Beta((n+1)q, (n+1)(1-q)) density
    over their ranks. A run's ops are of a few kinds with distinct
    latencies; where one or two order statistics jump from one kind to the
    next when two samples trade places, this estimate moves smoothly."""
    import numpy as np
    s = np.sort(np.asarray(xs, dtype=float))
    n = len(s)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    # midpoints of a fine grid over (0, 1): the density is integrable at the ends
    x = (np.arange(200000) + 0.5) / 200000
    density = np.exp((a - 1) * np.log(x) + (b - 1) * np.log1p(-x))
    rank = np.minimum((x * n).astype(int), n - 1)
    weights = np.bincount(rank, weights=density, minlength=n)
    return float(weights @ s / weights.sum())


def end_to_end(ops, summary):
    """Metrics a user sees, from successful ops only: a failed op is counted
    in `failed` and never enters a latency sample, and its pass never enters
    pass_s."""
    lat = [o["latency_s"] for o in ops if o["error"] is None]
    failed_passes = {o["pass"] for o in ops if o["error"]}
    passes = [p["wall_s"] for p in summary["passes"] if p["pass"] not in failed_passes]
    # a metric with no clean sample (only in a run that failed) is null
    return {
        "setup_s": (quantile(summary["setups_s"], 0.5), "s"),
        "op_p50_s": (hd_quantile(lat, 0.5) if lat else None, "s"),
        "pass_s": (quantile(passes, 0.5) if passes else None, "s"),
        "retained_heap_mb": (summary["retained_heap_mb"], "MB"),
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-throw", nargs="*", default=[],
                    help="ops that throw in the timed loop (the benchmark's own test)")
    ap.add_argument("--inject-wrong", nargs="*", default=[],
                    help="queries whose output is emptied in the timed loop")
    ap.add_argument("--inject-reapply", action="store_true",
                    help="ingest replays come under a new batch id, so the sinks apply them")
    a = ap.parse_args(argv)

    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    build_dir = build(root, out)
    data_dir = tables(out) if a.workload == "batch" else None
    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        return measure(a, build_dir, data_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(a, build_dir, data_dir, run_dir):
    wl = inputs.workload_inputs(a.workload, a.seed)
    refs_path = refs = None
    if a.workload == "batch":
        # fingerprints of the oracle-checked outputs, kept with the build
        refs_path = os.path.join(build_dir, f"verified-{os.path.basename(data_dir)}.json")
        refs = json.load(open(refs_path)) if os.path.exists(refs_path) else None
    cfg = dict(wl, workload=a.workload, seed=a.seed, seconds=a.seconds,
               trace=a.trace, cores=CORES, setups=SETUPS, warm_passes=WARM_PASSES,
               data_dir=data_dir,
               run_dir=run_dir, tmp_dir=os.path.join(run_dir, "tmp"),
               verify=a.workload == "batch" and refs is None,
               inject_throw=a.inject_throw, inject_wrong=a.inject_wrong,
               inject_reapply=a.inject_reapply)
    run_client(build_dir, cfg, run_dir)
    ops = read_jsonl(os.path.join(run_dir, "ops.jsonl"))
    summary = json.load(open(os.path.join(run_dir, "summary.json")))
    if a.workload == "ingest":
        check_ingest(ops, summary, run_dir, a.seed)
    else:
        if refs is None:
            refs, errors = verify_queries(data_dir, run_dir)
            if errors:
                for n, e in sorted(errors.items()):
                    print(f"verification failed: {n}: {e}", file=sys.stderr)
            else:
                with open(refs_path, "w") as f:
                    json.dump(refs, f)
        check_queries(ops, refs)
    failed = [o for o in ops if o["error"] is not None]
    for o in failed:
        print(f"failed op {o['op']} ({o['name']}): {o['error'][:300]}", file=sys.stderr)
    if a.trace:
        metrics = layers.per_layer(ops, summary, run_dir)
    else:
        metrics = end_to_end(ops, summary)
    print(f"perfbench workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} ops={len(ops)} passes={len(summary['passes'])}")
    print(json.dumps({
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 1 if failed else 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
