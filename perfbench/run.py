#!/usr/bin/env python3
"""Benchmark of the weather stream engine: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and the
harness with sbt into .bench_build/ (later runs reuse that build while the
sources are unchanged); every run then starts fresh JVMs with `java`.

Workloads (perfbench/NOTES.md says why each exists):
  live_hot_keys    open loop at a fixed rate, hot keys, exactly-once JDBC sink
  catchup_replay   drain of a staged backlog with AvailableNow, all-new keys
  batch_operators  every DedupOps/SimilarityOps/TextOps/StatsOps query once

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced run, whose spans are
written under .bench_work/trace/. Every run checks the program's outputs;
any mismatch makes "correct" false and counts in "failed".
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("live_hot_keys", "catchup_replay", "batch_operators")
RUN_LIMIT_S = 170  # every run ends within 180 s once built
BUILD_LIMIT_S = 850

def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, base)):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    for rel in sorted(files):
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and harness once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("engine sources not found next to perfbench/ (run from a full checkout)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(cp_file):
        os.remove(cp_file)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                          "writeClasspath"], HERE, log, BUILD_LIMIT_S)
    if code != 0 or not os.path.isfile(cp_file):
        die(f"build failed (exit {code}); see {log_path}", 3)
    cp = open(cp_file).read().strip()
    train_archive(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def train_archive(cp):
    """Record the classes a short pass over every workload loads in a
    class-data-sharing archive; each run's JVM maps them instead of loading
    them one by one, which roughly halves its cold start. Without an archive
    the runs still work, only their JVMs start slower."""
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    sys.path.insert(0, HERE)
    import gen
    gen.write_tables(os.path.join(work, "data"), 0)
    cmd = jvm_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={archive}"]) + [
        "--workload", "train", "--seed", "0", "--seconds", "1", "--cpus", str(nproc()),
        "--work", work, "--out", os.path.join(work, "result.json"),
        "--data", os.path.join(work, "data")]
    with open(os.path.join(BUILD, "train.log"), "w") as log:
        code = run_child(cmd, work, log, 300)
    if code != 0 and os.path.exists(archive):
        os.remove(archive)
    shutil.rmtree(work, ignore_errors=True)


def jvm_cmd(cp, work, extra=()):
    """The java command line up to the main class, shared by every JVM: the
    engine build's own JVM options (the --add-opens Spark needs on JDK 17),
    then this benchmark's heap, which overrides theirs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    archive = os.path.join(BUILD, "classes.jsa")
    share = [f"-XX:SharedArchiveFile={archive}"] \
        if os.path.isfile(archive) and not extra else []
    with open(os.path.join(BUILD, "jvm-options.txt")) as f:
        engine_opts = f.read().split()
    return [java, *engine_opts, "-Xmx3g", "-XX:+UseG1GC", *share, *extra,
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", cp, "perfbench.Main"]


def run_child(cmd, cwd, log, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children of the group
        except ProcessLookupError:
            pass


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, seed, seconds, trace, cpus, work, data, check, deadline):
    out = os.path.join(work, "result.json")
    cmd = jvm_cmd(cp, work) + [
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--cpus", str(cpus),
           "--partitions", str(nproc()), "--work", work,
           "--out", out, "--data", data, "--check", "1" if check else "0",
           "--spawn-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        code = run_child(cmd, work, log, deadline - time.time())
    if code != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        die(f"{workload} JVM failed (exit {code}):\n{tail}", 4)
    with open(out) as f:
        return json.load(f)


def oracle_check(data, check_dir, names, oracles):
    """Compare each query's rows with its DuckDB oracle, the way
    tools/check_oracle.py does: columns by name, rows sorted, values
    normalized by that tool's own `norm`."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import norm
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = {}
    for name in names:
        if name not in oracles:
            bad[name] = "no oracle"
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')")
            exp = con.sql(oracles[name])
            gc, ec = list(got.columns), list(exp.columns)
            if sorted(gc) != sorted(ec):
                bad[name] = f"columns {sorted(gc)} != {sorted(ec)}"
                continue
            gi = [gc.index(c) for c in sorted(gc)]
            ei = [ec.index(c) for c in sorted(ec)]
            g = sorted(tuple(norm(r[i]) for i in gi) for r in got.fetchall())
            e = sorted(tuple(norm(r[i]) for i in ei) for r in exp.fetchall())
            if g != e:
                bad[name] = f"{len(g)} rows vs {len(e)} oracle rows"
        except Exception as x:  # a failed read or oracle is a failed check
            bad[name] = str(x)[:200]
    return bad


def one_run(cp, a, work, trace, cpus, check, deadline):
    """One JVM run of the workload, with the batch oracle check if asked."""
    data = ""
    if a.workload == "batch_operators":
        sys.path.insert(0, HERE)
        import gen
        data = os.path.join(work, "data")
        gen.write_tables(data, a.seed)
    r = run_jvm(cp, a.workload, a.seed, a.seconds, trace, cpus, work, data, check, deadline)
    if a.workload == "batch_operators" and check:
        names = sorted(q for q, v in r["info"]["queries"].items() if v["error"] is None)
        bad = oracle_check(data, r["info"]["check_dir"], names, r["info"]["oracles"])
        r["checks"]["oracle_mismatch"] = len(bad)
        r["failed"] += len(bad)
        r["info"]["oracle_mismatches"] = bad
        r["info"]["oracle_checked"] = len(names)
        r["info"].pop("oracles", None)
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    cp, stamp = build()
    deadline = time.time() + RUN_LIMIT_S
    cpus = nproc()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.trace:
            ref = one_run(cp, a, os.path.join(work, "untraced"), False, cpus, False, deadline)
            t0 = time.time()
            r = one_run(cp, a, os.path.join(work, "traced"), True, cpus, True, deadline)
            extra = trace_extras(cp, a, work, r, ref, deadline, time.time() - t0)
            save_trace(a, work, r, extra)
        else:
            r = one_run(cp, a, work, False, cpus, True, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(a, spec, r, stamp, cpus)


def trace_extras(cp, a, work, r, ref, deadline, traced_s):
    """Tracing overhead against the untraced run, and for catchup_replay the
    single-threaded baseline with the per-layer parallel speedup (skipped,
    with the speedups left at 0, when it fails or too little of the run's
    time is left)."""
    r["failed"] += ref["failed"]
    r["attempted"] += ref["attempted"]
    lay = r["per_layer"]
    busy = r["end_to_end"]["busy_s"]["value"]
    ref_busy = ref["end_to_end"]["busy_s"]["value"]
    lay["trace.overhead_ratio"] = {"value": busy / ref_busy if ref_busy else 0.0, "unit": "ratio"}
    lay["trace.untraced_busy_s"] = {"value": ref_busy, "unit": "s"}
    extra = {}
    if a.workload != "catchup_replay":
        return extra
    try:
        if deadline - time.time() < 2 * traced_s:
            raise SystemExit("too little time left")
        one = one_run(cp, a, os.path.join(work, "local1"), True, 1, True, deadline)
    except SystemExit as why:  # the baseline is a diagnostic: report it missing
        r["info"]["local1_skipped"] = str(why.code)
        return extra
    r["failed"] += one["failed"]
    r["attempted"] += one["attempted"]
    r["checks"] = {k: v + one["checks"].get(k, 0) for k, v in r["checks"].items()}
    for name in ("busy_s", "self_s.source", "self_s.streaming", "self_s.state",
                 "self_s.sink", "self_s.exec"):
        base = one["end_to_end"] if name == "busy_s" else one["per_layer"]
        mine = r["end_to_end"] if name == "busy_s" else lay
        num, den = base[name]["value"], mine[name]["value"]
        key = "speedup." + name.replace("self_s.", "").replace("_s", "")
        lay[key] = {"value": num / den if den else 0.0, "unit": "ratio"}
    extra["local1"] = one
    return extra


def save_trace(a, work, r, extra):
    """Keep the span files of the traced runs under .bench_work/trace/."""
    dest = os.path.join(WORK, "trace")
    os.makedirs(dest, exist_ok=True)
    for sub in ("traced", "local1"):
        src = os.path.join(work, sub, "trace", f"{a.workload}-spans.jsonl")
        if os.path.isfile(src):
            tag = "" if sub == "traced" else "-local1"
            shutil.copy(src, os.path.join(dest, f"{a.workload}-seed{a.seed}{tag}-spans.jsonl"))
    with open(os.path.join(dest, f"{a.workload}-seed{a.seed}-layers.json"), "w") as f:
        json.dump({"per_layer": r["per_layer"],
                   "local1_per_layer": extra.get("local1", {}).get("per_layer")}, f, indent=1)


def git_sha():
    """The checkout's commit, or None when the checkout is not a git work tree
    of its own (a parent directory's repository does not count)."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def report(a, spec, r, stamp, cpus):
    section = "per_layer" if a.trace else "end_to_end"
    have = r[section]
    metrics = {}
    for m in spec[section]:
        v = have.get(m["name"])
        if v is None and section == "end_to_end":
            die(f"metric {m['name']} missing from the {a.workload} run", 5)
        metrics[m["name"]] = {"value": v["value"] if v else 0.0, "unit": m["unit"]}
    samples = {k: v.get("samples") for k, v in r["end_to_end"].items()}
    for name, m in metrics.items():
        n = samples.get(name)
        print(f"{a.workload:16s} {name:36s} {m['value']:>16.6g} {m['unit']:8s}"
              + (f" n={n}" if n is not None and not a.trace else ""))
    info = {k: v for k, v in r["info"].items() if k not in ("queries",)}
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "checks": r["checks"], "samples": samples, "info": info,
              "failed_ratio": r["failed"] / max(1, r["attempted"]),
              "provenance": dict(r["provenance"], commit=git_sha(), source_sha256=stamp,
                                 nproc=cpus)}
    if a.workload == "batch_operators":
        detail["query_wall_s"] = {q: round(v["wall_s"], 4) for q, v in r["info"]["queries"].items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": r["failed"] == 0 and all(v == 0 for v in r["checks"].values()),
                      "attempted": int(r["attempted"]), "failed": int(r["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
