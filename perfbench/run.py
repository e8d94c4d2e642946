#!/usr/bin/env python3
"""Repo benchmark: streaming ingest into the current-value store, and a
layered mix of inventory queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark's JVM program with sbt
(offline) and caches the runtime classpath under perfbench/.build; later
runs start the JVM directly. The seed generates the inputs (tag -> declared-type
assignment, query order); the JVM program receives only those. The last
stdout line is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
DEADLINE_S = 175

TYPES = ["Double", "Int32", "Boolean", "String", "Single", "DateTime"]
QUERIES = [
    "q02_filter_project", "q04_star_broadcast", "q29_last_per_key", "q33_exact_dedup",
    "q187_bpe_pair_counts", "q246_txtable_partition_census", "q76_ngram_jaccard",
    "q40_ann_topk",
]
# ingest_txtable: (servers, tags per server), full size and self-check size
SHAPE, TINY_SHAPE = (1, 4096), (1, 64)
# Spark 4 on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def fingerprint():
    """Hash of every input of the build: build files and Scala sources."""
    h = hashlib.sha256()
    files = []
    for base in (ROOT, HERE):
        files += [os.path.join(base, "build.sbt"),
                  os.path.join(base, "project", "build.properties")]
        for d, _, names in os.walk(os.path.join(base, "src", "main")):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build if the sources changed since the cached build; return the
    runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    log("building the engine and the benchmark with sbt")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def gen_inputs(workload, seed, tiny, inputs):
    """The seeded generator: the program sees only what is written here."""
    rng = random.Random(seed)
    os.makedirs(inputs)
    if workload == "query_mix":
        names = QUERIES[:]
        rng.shuffle(names)
        with open(os.path.join(inputs, "queries.txt"), "w") as f:
            f.write("\n".join(names) + "\n")
        return
    n_servers, n_tags = TINY_SHAPE if tiny else SHAPE
    lines = []
    for s in range(1, n_servers + 1):
        types = [TYPES[i % len(TYPES)] for i in range(n_tags)]
        rng.shuffle(types)
        lines.append(f"opc.tcp://plant{s}:4840, 10, Server{s}")
        lines += [f"ns=2;s=Plant{s}.Tag{i:05d},{t},N,Tag{i:05d}" for i, t in enumerate(types)]
    with open(os.path.join(inputs, "config.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")


def oracle_check(results, corrupt):
    """Compare each query result with its DuckDB oracle, using the repo's
    own checker. Returns (compared, failed)."""
    sys.dont_write_bytecode = True  # leave no cache files in scripts/
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check
    oracle_file = os.path.join(results, "oracle_sql.json")
    oracles = json.load(open(oracle_file))
    if corrupt:
        name = sorted(oracles)[0]
        oracles[name] = f"SELECT * FROM ({oracles[name]}) AS expected LIMIT 0"
        json.dump(oracles, open(oracle_file, "w"))
    record = os.path.join(results, "oracle_record.json")
    with contextlib.redirect_stdout(sys.stderr):
        check.main(DATA, results, record)
    rec = json.load(open(record))
    return len(rec["queries"]), rec["n_fail"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest_txtable", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="self-check size")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-check: perturb one expected value")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("scripts", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the engine: {need} missing (run from its root)")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = classpath()
    t_start = time.time()  # the build has its own, longer allowance

    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    gen_inputs(a.workload, a.seed, a.tiny, inputs)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    # two Spark task threads leave cores to the JIT compiler and GC threads:
    # on four cores that shortens warm-up and halves run-to-run spread
    cores = max(1, min(2, os.cpu_count() or 1))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # JIT limited to its first tier (C1): with the optimising tier, Spark's
    # planner and the ingest merge were still being compiled a minute in, so
    # a run measured how far the compiler had got. With C1 the times are
    # flat after the first executions; steady query times are about the same
    cmd = [java, "-Xmx2g", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", a.workload, inputs, DATA, work, out,
            str(a.seconds), str(a.trace), "1" if a.tiny else "0",
            "1" if a.corrupt_expected else "0", str(cores)]
    budget = DEADLINE_S - (time.time() - t_start)
    with subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                          stdout=sys.stderr, stderr=sys.stderr) as p:
        try:
            rc = p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("benchmark JVM timed out", 4)
    if rc != 0 or not os.path.isfile(out):
        fail(f"benchmark JVM exited with {rc}", 4)
    res = json.load(open(out))
    attempted, failed = res["attempted"], res["failed"]
    for n in res["notes"]:
        log(f"mismatch: {n}")
    if a.workload == "query_mix":
        compared, bad = oracle_check(os.path.join(work, "results"), a.corrupt_expected)
        attempted += compared
        failed += bad

    declared = bench["per_layer"] if a.trace else bench["end_to_end"]
    got = res["layer"] if a.trace else res["e2e"]
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if v is None:
            if not a.trace:
                fail(f"metric {m['name']} was not measured", 5)
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
