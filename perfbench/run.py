#!/usr/bin/env python3
"""graft benchmark: builds the benchmark JVM from this checkout's sources,
runs one workload, checks its outputs against the DuckDB oracles and prints
one JSON line as the last line of standard output.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <geo_backlog|corpus_dedup>
        --seed <n> --seconds <s> --trace <0|1>

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics.
Build output and scratch data go to $CARGO_TARGET_DIR (default .bench_build)
under the checkout. See perfbench/README.md for the workloads and metrics.
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
WORKLOADS = ("geo_backlog", "corpus_dedup")
# the JVM must end in time for the DuckDB checks to fit in 180 s
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 880
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_fingerprint():
    """Hash of every file the benchmark JVM is built from."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for dp, dns, fns in os.walk(top):
            dns[:] = sorted(d for d in dns if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def output_fingerprint(classpath):
    """Path, size and mtime of every classpath entry and of every file
    under its directories. The program's classes live in the checkout's
    own target/, which other builds of the checkout also write, so a
    cached classpath is used only while these are as the build left them."""
    h = hashlib.sha256()
    for entry in classpath.split(os.pathsep):
        files = [entry]
        for dp, dns, fns in os.walk(entry):
            dns.sort()
            files += [os.path.join(dp, f) for f in sorted(fns)]
        for f in files:
            try:
                st = os.stat(f)
                h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
            except FileNotFoundError:
                h.update(f"{f}\0missing\n".encode())
    return h.hexdigest()


def build(deadline):
    """Compile the program and the benchmark once per source state; the
    classpath is cached under the build directory."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}: run from the root of a full checkout")
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    stamp = os.path.join(bdir, "classpath.json")
    fp = source_fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if (cached.get("fingerprint") == fp
                and cached.get("outputs") == output_fingerprint(cached["classpath"])):
            return cached["classpath"]
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=fh, stdin=subprocess.DEVNULL, text=True,
            start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            stop(p)
            fail(f"build timed out, see {log}")
        fh.write(out)
    cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        fail(f"build failed (exit {p.returncode}), see {log}")
    classpath = cp[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "outputs": output_fingerprint(classpath),
                   "classpath": classpath}, fh)
    return classpath


def stop(p):
    """Kill a child's whole process group and wait for it."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(cores())])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            stop(p)
            tail(log)
            fail("benchmark JVM timed out")
    res = os.path.join(work, "result.json")
    if p.returncode != 0 or not os.path.isfile(res):
        tail(log)
        fail(f"benchmark JVM failed (exit {p.returncode})")
    with open(res) as fh:
        return json.load(fh)


def tail(path, n=40):
    with open(path, errors="replace") as fh:
        lines = fh.readlines()
    sys.stderr.write("".join(lines[-n:]))


def cc_rounds(pairs):
    """Rounds min-label propagation needs over a pair graph, counted as
    Dedup.ccOver counts them: the seed labels every node min(itself,
    neighbours), then each round takes the min over the node and its
    neighbours' labels, until a round changes nothing."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {v: min(v, min(ns)) for v, ns in adj.items()}
    rounds, changed = 0, 1
    while changed and rounds < 50:
        nxt = {v: min([label[v]] + [label[u] for u in ns]) for v, ns in adj.items()}
        changed = sum(1 for v in adj if nxt[v] < label[v])
        label, rounds = nxt, rounds + 1
    return rounds


def oracle_checks(oracles):
    """Each written result must equal its oracle SQL evaluated in DuckDB
    over the same generated input files, as a multiset of rows. Returns
    the checks and the guards computed from oracle results."""
    import duckdb
    checks, guards = [], []
    con = duckdb.connect()
    views = {k: v for o in oracles for k, v in o["views"].items()}
    for name, path in views.items():
        files = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{files}')")
    # the pair graph is evaluated once: the guard counts its CC rounds, and
    # an oracle that embeds the same pair query reads the table instead
    # (the recursive CTE would otherwise re-evaluate it every iteration)
    shared = {}
    for o in oracles:
        if o["min_cc_rounds"] > 0:
            try:
                con.execute(f"CREATE TABLE pair_graph AS {o['sql']}")
                r = cc_rounds(con.execute("SELECT doc_a, doc_b FROM pair_graph").fetchall())
                guards.append({"name": o["name"], "value": r, "ok": r >= o["min_cc_rounds"]})
                shared[f"({o['sql']})"] = "pair_graph"
            except Exception as e:
                guards.append({"name": o["name"], "value": None, "ok": False, "detail": str(e)[:300]})
    for o in oracles:
        if o["min_cc_rounds"] > 0:
            continue
        try:
            sql = o["sql"]
            for text, table in shared.items():
                sql = sql.replace(text, table)
            src = (f"read_parquet('{o['path']}/**/*.parquet', hive_partitioning = true)"
                   if o["hive"] else f"read_parquet('{o['path']}/*.parquet')")
            con.execute("DROP TABLE IF EXISTS want")
            con.execute(f"CREATE TABLE want AS {sql}")
            typed = con.execute("SELECT column_name, data_type FROM information_schema.columns "
                                "WHERE table_name = 'want' ORDER BY ordinal_position").fetchall()
            # the written columns, by name and cast to the oracle's types
            # (hive partition columns come back as inferred integers)
            got = ", ".join(f'CAST("{c}" AS {t})' for c, t in typed)
            n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
            diff = con.execute(
                f"SELECT count(*) FROM ((SELECT {got} FROM {src} EXCEPT ALL SELECT * FROM want) "
                f"UNION ALL (SELECT * FROM want EXCEPT ALL SELECT {got} FROM {src}))").fetchone()[0]
            checks.append({"name": f"oracle.{o['name']}", "ok": diff == 0 and n_want > 0,
                           "detail": f"{n_want} rows, {diff} differing"})
        except Exception as e:  # a check that cannot run is a mismatch
            checks.append({"name": f"oracle.{o['name']}", "ok": False, "detail": str(e)[:300]})
    con.close()
    return checks, guards


def benchmark_metrics(kind):
    """Names of the `kind` metrics in BENCHMARK.json, or None without it."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.time()
    cp = build(t0 + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(build_dir(), "work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, deadline)
        oracle, guards = oracle_checks(res["oracles"])
        checks = res["checks"] + oracle
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = res["failed"] + sum(1 for c in oracle if not c["ok"])
    correct = failed == 0 and all(c["ok"] for c in checks) and all(g["ok"] for g in guards)
    # the metrics BENCHMARK.json lists for this mode go on the result
    # line; any other measured metric stays with the run's details
    listed = benchmark_metrics("per_layer" if args.trace else "end_to_end")
    metrics = {k: v for k, v in res["metrics"].items() if listed is None or k in listed}
    others = {k: v for k, v in res["metrics"].items() if k not in metrics}
    print(json.dumps({"workload": res["workload"], "seed": res["seed"], "inputs": res["inputs"],
                      "info": res["info"], "other_metrics": others, "checks": checks,
                      "guards": guards}))
    print(json.dumps({"correct": correct, "attempted": max(res["attempted"], 1), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
