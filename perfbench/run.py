#!/usr/bin/env python3
"""graft benchmark: one seeded, oracle-checked workload run.

usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source with the Scala compiler
that ships with Spark (no sbt), generates the run's inputs from the
seed, runs the harness JVM, checks every result against the DuckDB
oracle, prints each metric on its own line and, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
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
import gen  # noqa: E402

# Warm-pass wall time of each workload on a 4-core box; a run makes
# round(seconds / nominal) warm passes (at least 2) after its cold pass,
# so the sample count is fixed by --seconds and never by timing noise.
WORKLOADS = {
    "telemetry_queries": 5.0,
    "curation_batch": 8.5,
    "incremental_ingest": 8.5,
}

JVM_TIMEOUT_S = 170
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
               "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
               "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else that of the Spark
    whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


def scala_jars(jars):
    """The Scala compiler, library and reflect jars Spark ships."""
    found = [sorted(glob.glob(os.path.join(jars, f"scala-{k}-2.13.*.jar")))
             for k in ("compiler", "library", "reflect")]
    if not all(found):
        raise SystemExit(f"no Scala 2.13 compiler, library and reflect jars in {jars}")
    return [f[-1] for f in found]


def log(msg):
    print(msg, flush=True)


def tail_percentile(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (percentile, value, samples above). With `beyond` or fewer samples
    no percentile qualifies, and the maximum is reported as p100."""
    s = sorted(values)
    n = len(s)
    if n <= beyond:
        return 100.0, s[-1], 0
    return 100.0 * (n - beyond) / n, s[n - beyond - 1], beyond


def multiset(table):
    """Rows of an arrow table, columns name-sorted, values normalized as
    the parity check does, sorted so row order does not matter."""
    from check_parity import norm
    cols = sorted(table.column_names)
    return sorted((tuple(norm(r[c]) for c in cols) for r in table.to_pylist()), key=repr)


def oracle_mismatch(con, sql, spark_table):
    """None when the Spark result equals the DuckDB oracle's as a
    multiset with matching column names and value kinds, else why not."""
    from check_parity import type_key
    duck = con.execute(sql).arrow()
    if sorted(spark_table.column_names) != sorted(duck.column_names):
        return f"columns spark={sorted(spark_table.column_names)} duck={sorted(duck.column_names)}"
    for c in spark_table.column_names:
        st, dt = type_key(spark_table.schema.field(c).type), type_key(duck.schema.field(c).type)
        if st != dt:
            return f"type of {c}: spark={st} duck={dt}"
    a, b = multiset(spark_table), multiset(duck)
    if a != b:
        return f"rows spark={len(a)} duck={len(b)} differ"
    return None


def source_files(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return main, bench


def build(root, out, jars):
    """Compile the library's main sources, then the harness, into `out`;
    skipped when neither the sources nor the compiler changed."""
    main, bench = source_files(root)
    if not main:
        raise SystemExit("no library sources under src/main/scala: run from the repository root")
    scala = scala_jars(jars)
    h = hashlib.sha256()
    for f in main + bench + scala:
        h.update(f.encode())
        h.update(open(f, "rb").read() if f.endswith(".scala") else b"")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    spark_cp = os.path.join(jars, "*")
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
              "-cp", ":".join(scala), "scala.tools.nsc.Main", "-nowarn"]
    for dest, cp, files in ((os.path.join(out, "graft"), spark_cp, main),
                            (os.path.join(out, "bench"), os.path.join(out, "graft") + ":" + spark_cp, bench)):
        os.makedirs(dest)
        t = time.time()
        r = subprocess.run(scalac + ["-d", dest, "-classpath", cp] + files,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"compile of {os.path.basename(dest)} failed")
        log(f"# built {os.path.basename(dest)} ({len(files)} files) in {time.time() - t:.1f} s")
    open(stamp, "w").write(h.hexdigest())


def run_jvm(out, jars, workload, inp, run_dir, warm, trace, seed):
    tmp, local, wh = (os.path.join(run_dir, d) for d in ("tmp", "local", "warehouse"))
    for d in (tmp, local, wh):
        os.makedirs(d)
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}", f"-Dspark.sql.warehouse.dir={wh}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", ":".join([os.path.join(out, "bench"), os.path.join(out, "graft"),
                               os.path.join(jars, "*")]),
              "perfbench.Harness", workload, inp, run_dir, str(warm), str(trace), str(seed)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        raise SystemExit(f"harness exited with {rc}")
    return json.load(open(os.path.join(run_dir, "result.json")))


def oracle_failures(res, inp, run_dir):
    """Op names whose first result the DuckDB oracle rejects."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duck_tmp')}'")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(inp, t + '.parquet')}'")
    bad = {}
    for name, oracle in res["checks"]:
        table = pq.read_table(os.path.join(run_dir, "dumps", name))
        try:
            why = oracle_mismatch(con, res["oracle_sql"][oracle], table)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {e}"
        if why:
            bad[name] = f"{oracle}: {why}"
    return bad


def metrics(res, input_bytes):
    warm_ops = [o["s"] for o in res["ops"] if o["pass"] > 1]
    p, tail, k = tail_percentile(warm_ops)
    m = {
        "setup_s": statistics.median(s["total_s"] for s in res["setups"]),
        "cold_run_s": res["pass_wall_s"][0],
        "warm_run_s": statistics.median(res["pass_wall_s"][1:]),
        "op_p50_s": statistics.median(warm_ops),
        "op_tail_s": tail,
        "rss_peak_mb": res["rss_peak_mb"],
        "stored_bytes_ratio": res["stored_bytes"] / input_bytes,
    }
    note = f"p{p:.1f} of {len(warm_ops)} warm ops, {k} beyond"
    return m, note


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "dev", "check_parity.py")):
        raise SystemExit("dev/check_parity.py not found: run from the repository root")
    sys.path.insert(0, os.path.join(root, "dev"))

    out = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    jars = spark_jars()
    build(root, out, jars)

    run_dir = os.path.abspath(os.path.join(".bench_run", a.workload))
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = os.path.join(run_dir, "input")
    gen.generate(a.seed, inp)
    input_bytes = gen.input_bytes(inp, ingest=a.workload == "incremental_ingest")
    warm = max(2, round(a.seconds / WORKLOADS[a.workload]))
    t = time.time()
    res = run_jvm(out, jars, a.workload, inp, run_dir, warm, a.trace, a.seed)
    log(f"# harness: 1 cold + {warm} warm passes in {time.time() - t:.1f} s wall")

    bad = oracle_failures(res, inp, run_dir)
    failed = 0
    for o in res["ops"]:
        if not o["ok"] or o["name"] in bad:
            failed += 1
    for name, why in sorted(bad.items()):
        log(f"# ORACLE MISMATCH {name}: {why}")
    for o in res["ops"]:
        if not o["ok"]:
            log(f"# FAILED {o['name']} pass {o['pass']}: {o['error'][:300]}")
    attempted = len(res["ops"])

    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    m, tail_note = metrics(res, input_bytes)
    log(f"workload {a.workload} seed {a.seed} trace {a.trace}")
    for e in spec["end_to_end"]:
        log(f"{e['name']} {m[e['name']]:.6g} {e['unit']}" + (f"  ({tail_note})" if e["name"] == "op_tail_s" else ""))
    log(f"op_fail_share {failed / attempted:.6g} ratio  ({failed} of {attempted} ops)")

    if a.trace:
        layers = dict(res["layers"])
        for key, field in (("GraftSession.build_s", "build_s"), ("GraftSession.register_s", "register_s")):
            layers[key] = statistics.median(s[field] for s in res["setups"])
        untraced = os.path.join(".bench_run", f"{a.workload}.untraced.json")
        if os.path.exists(untraced):
            base = json.load(open(untraced))["warm_run_s"]
            log(f"tracing overhead: warm_run_s traced {layers['trace.warm_run_s']:.4f} s vs "
                f"untraced {base:.4f} s ({100 * (layers['trace.warm_run_s'] / base - 1):+.1f}%)")
        for k in sorted(layers):
            log(f"layer {k} {layers[k]:.6g}")
        json.dump({"layers": layers, "spans": res["spans"]},
                  open(os.path.join(run_dir, "trace.json"), "w"))
        result_metrics = {e["name"]: {"value": layers[e["name"]], "unit": e["unit"]} for e in spec["per_layer"]}
    else:
        json.dump(m, open(os.path.join(".bench_run", f"{a.workload}.untraced.json"), "w"))
        result_metrics = {e["name"]: {"value": m[e["name"]], "unit": e["unit"]} for e in spec["end_to_end"]}

    log(f"# run wall {time.time() - started:.1f} s")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
