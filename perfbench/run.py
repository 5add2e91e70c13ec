"""graft benchmark: the SRI star-schema load, document curation and
star-schema reads, driven through graft's public entry points.

Usage (from the repository root):
  python3 perfbench/run.py --workload {sri_etl,curate_docs}
                           --seed N --seconds S --trace {0,1}

Builds the engine and the benchmark (perfbench/build.py) when a source
changed, generates the workload's inputs from the seed, runs the JVM half
(perfbench/src/perfbench/Main.scala) and prints, as the last line of stdout,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones; a traced run also writes its spans to
<buildDir>/perfbench/trace-<workload>-<seed>.json.

Everything it writes stays under the build directory ($CARGO_TARGET_DIR,
default .bench_build).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import sri_gen  # noqa: E402
import tables_gen  # noqa: E402

WORKLOADS = ("sri_etl", "curate_docs")
SRI_ROWS = 3000        # ~211k fact rows through the J3 fan-out
TABLES_SF = 0.01       # 60k lineitem rows
DOCS = 5000            # base documents; 50 exact and 500 near duplicates are added
JVM_TIMEOUT_S = 170

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def generate(workload, seed, data):
    """Write the workload's inputs; return the properties the JVM reads."""
    os.makedirs(data, exist_ok=True)
    props = {}
    if workload == "sri_etl":
        csv = os.path.join(data, "sri.csv")
        p = sri_gen.write(csv, seed, SRI_ROWS)
        props.update({"sri.csv": csv, "sri.rows": p.rows, "sri.fact_rows": p.fact_rows,
                      "sri.dim_tiempo": p.dim_tiempo, "sri.dim_vehiculo": p.dim_vehiculo,
                      "sri.dim_transaccion": p.dim_transaccion,
                      "sri.dim_ubicacion": p.dim_ubicacion, "tables": data})
        tables_gen.write_tables(data, seed, TABLES_SF)
    if workload == "curate_docs":
        props["docs.rows"] = tables_gen.write_documents(data, seed, DOCS)
        props["docs"] = os.path.join(data, "documents.parquet")
    return props


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the repository root: src/main/scala/graft not found")
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    declared = spec["per_layer" if a.trace else "end_to_end"]

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build.ensure_built(root, build_dir)

    base = os.path.join(build_dir, "perfbench")
    data = os.path.join(base, f"data-{a.workload}-{a.seed}")
    work = os.path.join(base, f"work-{a.workload}-{a.seed}")
    tmp = os.path.join(base, "tmp")
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    t0 = time.perf_counter()
    props = generate(a.workload, a.seed, data)
    gen_s = time.perf_counter() - t0
    inputs = os.path.join(data, "inputs.properties")
    with open(inputs, "w", encoding="utf-8") as f:
        for k, v in sorted(props.items()):
            f.write(f"{k}={v}\n")

    jars = build.spark_jars(root)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--inputs", inputs, "--work", work,
              "--trace-out", os.path.join(base, f"trace-{a.workload}-{a.seed}.json"),
              "--generate-s", f"{gen_s:.6f}"])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: JVM did not finish within {JVM_TIMEOUT_S}s")
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
        else:
            print(line, file=sys.stderr)
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        sys.exit(f"perfbench: JVM exited with {proc.returncode} and no result")

    got = result["metrics"]
    if not a.trace:
        missing = [m["name"] for m in declared if got.get(m["name"]) is None]
        if missing:
            sys.exit(f"perfbench: metrics not measured: {missing}")
    # a layer the workload does not run reads 0
    metrics = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]} for m in declared}
    for name, m in metrics.items():
        print(f"perfbench: {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
