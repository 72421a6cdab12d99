#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. It compiles graft's sources
and the JVM side of the benchmark (`perfbench/src`) once per source
hash, generates the workload's inputs from the seed, runs the workload
on `local[nproc]`, replays the curation outputs in DuckDB, and prints
one JSON line: with `--trace 0` the end-to-end metrics of
BENCHMARK.json, with `--trace 1` its per-layer metrics. Everything it
writes stays under `perfbench/.out/`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes per workload, and why: see README.md "Sizing".
CHAT_MESSAGES = 5000
CHAT_INCREMENTS = 24
CHAT_INC_FRAC = 0.02
DOCS = 2000
QUERY_TEXTS = 500
# The live session restarts over one base store, the same for every
# seed, whose cold start run.py makes once per build (prepared_base);
# --seed draws the increments that arrive on top of it and the queries.
BASE_SEED = 0

# Seconds a run's workload JVM may take; building the classes and the
# base store (first run of a checkout) comes on top.
JVM_DEADLINE_S = 150
JVM_HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (the same list the sbt build passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The jar directory the repo's build declares (`unmanagedBase`)."""
    build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m and glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark jars (build.sbt unmanagedBase or SPARK_HOME)")


def build(jars):
    """Compiles src/main/scala plus perfbench/src with the Scala compiler
    among the Spark jars; the classes are keyed by the sources' hash."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not sources:
        sys.exit("perfbench: no graft sources under src/main/scala")
    sources += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for path in sources:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, "build", h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    shutil.rmtree(os.path.join(OUT, "build"), ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "build", "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    log(f"compiling {len(sources)} sources")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                   check=True, stdout=sys.stderr)
    os.rename(tmp, classes)
    open(os.path.join(classes, ".done"), "w").close()
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def inputs(kind, seed):
    """Generates a corpus (cached per kind, seed and generator)."""
    h = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()[:8]
    data = os.path.join(OUT, "data", f"{kind}-{seed}-{h}")
    if os.path.exists(os.path.join(data, ".done")):
        return data
    shutil.rmtree(os.path.join(OUT, "data"), ignore_errors=True)
    d = os.path.join(data, kind)
    os.makedirs(d)
    if kind == "chat":
        facts = gen.chat_versions(d, BASE_SEED, seed, CHAT_MESSAGES, CHAT_INCREMENTS,
                                  CHAT_INC_FRAC)
        with open(os.path.join(d, "counts.txt"), "w") as f:
            f.write("\n".join(map(str, facts["counts"])) + "\n")
        with open(os.path.join(d, "labels.txt"), "w") as f:
            f.write("\n".join(str(facts["sid"][m] - 5_000_000_000)
                              for m in range(1, facts["counts"][-1] + 1)) + "\n")
    else:
        facts = gen.documents(os.path.join(d, "docs.jsonl"), seed, DOCS)
        with open(os.path.join(d, "count.txt"), "w") as f:
            f.write(f"{DOCS}\n")
        with open(os.path.join(d, "near_pairs.txt"), "w") as f:
            f.write("".join(f"{a} {b}\n" for a, b in facts["near_pairs"]))
    open(os.path.join(data, ".done"), "w").close()
    return data


def jvm(classes, jars, workload, data, work, seed, seconds=0.0, trace=0,
        queries="", timeout=JVM_DEADLINE_S):
    """Runs the JVM side of one workload; returns its result JSON."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.callstack.depth=200",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--data", data, "--queries", queries, "--work", work, "--out", result])
    env = dict(os.environ, SPARK_GRAFT_STORAGE_DIR=os.path.join(work, "layouts"))
    env.pop("SEATALK_DB_KEY", None)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {workload} overran its deadline")
    if rc != 0:
        sys.exit(f"perfbench: {workload} failed (exit {rc})")
    with open(result) as f:
        return json.load(f)


def prepared_base(classes, jars, data):
    """The live session's persisted store and index: one cold start of
    the base store per build and generator, kept under their key, so
    runs of one build share it and runs of another never see it."""
    key = os.path.basename(classes) + "-" + os.path.basename(data).rsplit("-", 1)[1]
    state = os.path.join(OUT, "state", key)
    if not os.path.exists(os.path.join(state, ".done")):
        shutil.rmtree(os.path.join(OUT, "state"), ignore_errors=True)
        log("cold start of the base store")
        jvm(classes, jars, "prepare_live", data, state, BASE_SEED, timeout=600)
        open(os.path.join(state, ".done"), "w").close()
    return os.path.join(state, "cold")


def oracle_failures(work):
    """DuckDB replay of SparkEntry.oracleSql for each curation output,
    compared exactly after sorting columns by name and rows by value.
    Returns the names of the functions whose output differs."""
    import duckdb
    import numpy as np

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df):
            df = df.sort_values(by=list(df.columns), ignore_index=True)
        return df.reset_index(drop=True)

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{work}/docs2/documents.parquet/*.parquet')")
    bad = []
    for sql_path in sorted(glob.glob(os.path.join(work, "oracle", "*.sql"))):
        q = os.path.basename(sql_path)[:-4]
        got = canon(con.sql(f"SELECT * FROM read_parquet('{work}/oracle/{q}/*.parquet')").df())
        want = canon(con.sql(open(sql_path).read()).df())
        same = list(got.columns) == list(want.columns) and len(got) == len(want)
        for c in got.columns if same else []:
            g, w = got[c].to_numpy(), want[c].to_numpy()
            if g.dtype.kind == "f" or w.dtype.kind == "f":
                same = same and np.allclose(g.astype(float), w.astype(float),
                                            rtol=1e-12, atol=0, equal_nan=True)
            else:
                same = same and np.array_equal(g.astype(str), w.astype(str))
        log(f"oracle {q}: {'PASS' if same else 'FAIL'} ({len(got)} rows)")
        if not same:
            bad.append(q)
    return bad


ORACLE_FN = {"q_pipeline_e2e": "TextAnalysis.pipelineE2e",
             "q_dedup_minhash": "Dedup.dedupMinhash",
             "q_dedup_simhash": "Dedup.dedupSimhash"}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=["live_session", "curate_batch"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(OUT, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "curate_batch":
        data, queries = inputs("docs", a.seed), ""
    else:
        data = inputs("chat", a.seed)
        queries = os.path.join(work, "queries.txt")
        with open(queries, "w") as f:
            f.write("\n".join(gen.query_texts(BASE_SEED, a.seed, QUERY_TEXTS)) + "\n")
        shutil.copytree(prepared_base(classes, jars, data), os.path.join(work, "cold"))
    log("inputs ready")
    r = jvm(classes, jars, a.workload, data, work, a.seed, a.seconds, a.trace, queries)
    log("workload ran")
    failed = r["failed"]
    if a.workload == "curate_batch":
        for q in oracle_failures(work):
            r["failures"].append(f"{q}: differs from its DuckDB oracle")
            failed += int(r["calls"].get(ORACLE_FN[q], 1))
    for msg in r["failures"]:
        log(f"FAILED {msg}")
    values = r["layer" if a.trace else "metrics"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    log(f"done; calls {r['calls']}")
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
