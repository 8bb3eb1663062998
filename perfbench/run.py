#!/usr/bin/env python3
"""Repository benchmark: warm crawls and a catalog pass, checked against oracles.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload crawl-polite --seed 1 --seconds 12 --trace 0

It compiles the library and the harness from source with the Scala compiler
that ships in the Spark jars (cached under .bench_build/), starts one JVM
with fixed flags, and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("crawl-polite", "catalog-heavy")
SCALA = "2.13.17"
# Each run must end within 180 s; the first one in a checkout also builds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
CATALOG_OPS = (
    "td_dedup_components", "td_dedup_ngram_jaccard", "td_dedup_minhash_lsh",
    "fr_host_authority", "td_dsir_weights", "j1_region_revenue",
    "w2_stream_windowed_counts", "w4_stream_dedup",
)
LAYERS = ("engine", "queue", "dedup", "ops", "streaming", "other")
LAYER_KEYS = ("jobs", "job_s", "wall_s", "task_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "skew")
UNITS = {
    "jobs": "count", "job_s": "s", "wall_s": "s", "task_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB", "skew": "ratio",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap_size():
    """The Tier-1 rule: half of MemTotal in GiB, clamped to 2..8."""
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
                return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def jvm_flags(work):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags + [
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Xmx{heap_size()}",
        "-Dspark.sql.codegen.cache.maxEntries=8192",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={HERE / 'harness' / 'log4j2.properties'}",
    ]


def spark_jars(root):
    """The Spark jar directory, taken from build.sbt's `unmanagedBase`."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m or not Path(m.group(1)).is_dir():
        fail("build.sbt names no existing unmanagedBase jar directory")
    return Path(m.group(1))


def sources(root):
    lib = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "harness").glob("*.scala"))
    return lib + harness


def build(root, out, jars):
    """Compiles library + harness once per source state; returns the classes dir."""
    srcs = sources(root)
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    classes = out / "classes"
    if (out / "stamp").exists() and (out / "stamp").read_text() == stamp and classes.is_dir():
        return classes
    compiler = [jars / f"scala-{n}-{SCALA}.jar" for n in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.exists()]
    if missing:
        fail(f"missing Scala compiler jars: {missing}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath(jars),
           "-d", str(tmp), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    t0 = time.time()
    rc = run_child(cmd, BUILD_LIMIT_S, cwd=out)
    if rc != 0:
        fail(f"compile failed (exit {rc})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (out / "stamp").write_text(stamp)
    print(f"perfbench: compiled in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def classpath(jars):
    return os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))


def run_child(cmd, limit, cwd):
    """Runs a child in its own process group, all its output to stderr;
    kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit:.0f}s and was killed")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---- catalog output checks ---------------------------------------------------

def oracle_compare(root):
    """canon_rows and rows_eq of tools/check_oracles.py: the catalog rows are
    compared exactly as the repository's own oracle check compares them."""
    sys.path.insert(0, str(root / "tools"))
    try:
        from check_oracles import canon_rows, rows_eq
    finally:
        sys.path.pop(0)
    return canon_rows, rows_eq


def check_catalog(catalog, data, root):
    """Returns {op: error or None} and {op: expected row count}."""
    import duckdb
    canon_rows, rows_eq = oracle_compare(root)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for table in sorted(data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM read_parquet('{table}')")
    errors, counts = {}, {}
    for name, entry in catalog.items():
        try:
            sql = entry["oracle_sql"]
            if "/tmp/" in sql:
                raise ValueError("oracle reads a side channel outside the checkout")
            spark_rel = con.execute(f"SELECT * FROM read_parquet('{entry['rows_dir']}/*.parquet')")
            s_rows, s_cols = canon_rows(spark_rel.fetchall(), [d[0] for d in spark_rel.description])
            duck_rel = con.execute(sql)
            d_rows, d_cols = canon_rows(duck_rel.fetchall(), [d[0] for d in duck_rel.description])
            counts[name] = len(d_rows)
            if s_cols != d_cols:
                raise ValueError(f"columns differ spark={s_cols} duck={d_cols}")
            if len(s_rows) != len(d_rows):
                raise ValueError(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
            bad = next(((a, b) for a, b in zip(s_rows, d_rows) if not rows_eq(a, b)), None)
            if bad:
                raise ValueError(f"first diff spark={bad[0]} duck={bad[1]}")
            errors[name] = None
        except Exception as e:  # a failed check fails the operator, not the run
            errors[name] = f"{type(e).__name__}: {e}"
    return errors, counts


# ---- reduction ------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_op_median(ops, key):
    """{operator name: median of `key` over its runs}."""
    by_name = {}
    for op in ops:
        by_name.setdefault(op["name"], []).append(op[key])
    return {name: float(median(vals)) for name, vals in by_name.items()}


def reduce(res, workload, trace, catalog_errors, catalog_counts):
    ops = res["ops"]
    for op in ops:
        if op["kind"] in ("op", "untraced", "warmup") and op["name"] in catalog_errors:
            err = catalog_errors[op["name"]]
            if err is None and op["kind"] != "warmup" and op["ok"]:
                want = catalog_counts.get(op["name"])
                got = int(op["extra"].get("rows", -1))
                if want != got:
                    err = f"row count {got} != oracle {want}"
            if err and op["ok"]:
                op["ok"], op["error"] = False, err
    for op in ops:
        if not op["ok"]:
            print(f"perfbench: FAILED {op['kind']} {op['name']}: {op['error']}", file=sys.stderr)
    attempted = len(ops)
    failed = sum(1 for op in ops if not op["ok"])
    main_kind = "op" if workload == "catalog-heavy" else "crawl"
    good = [op for op in ops if op["kind"] == main_kind and op["ok"]]
    if workload == "catalog-heavy":
        # one pass built from each operator's median over the timed passes
        op_walls = per_op_median(good, "wall_s")
        wall = sum(op_walls.values())
        cpu = sum(per_op_median(good, "cpu_s").values())
        items = len(op_walls)
        steps = [op["wall_s"] * 1e3 for op in good]
    else:
        wall = sum(op["wall_s"] for op in good)
        cpu = sum(op["cpu_s"] for op in good)
        items = sum(op["items"] for op in good)
        steps = [s for op in good for s in op["steps_ms"]]
    if not trace:
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "items_per_s": (items / wall if wall > 0 else 0.0, "1/s"),
            "step_ms_p50": (float(median(steps)), "ms"),
            "cpu_ms_per_item": (cpu * 1e3 / items if items else 0.0, "ms"),
        }
    else:
        layers = res["layers"]
        metrics = {}
        for layer in LAYERS:
            for k in LAYER_KEYS:
                metrics[f"{layer}.{k}"] = (layers.get(f"{layer}.{k}", 0.0), UNITS[k])
        for k, unit in (("engine.batches", "count"), ("engine.prefetched_batches", "count"),
                        ("engine.useful_frac", "ratio"), ("queue.commits", "count"),
                        ("queue.log_mb", "MB"), ("queue.log_files", "count"),
                        ("queue.bytes_per_url", "B"), ("queue.open_s", "s"),
                        ("dedup.bloom_mb", "MB"), ("dedup.false_drops", "count"),
                        ("politeness.idle_batches", "count"), ("driver.gap_s", "s"),
                        ("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
                        ("catalyst.optimize_ms", "ms"), ("catalyst.rule_runs", "count"),
                        ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
                        ("oracle.crawl_s", "s")):
            metrics[k] = (layers.get(k, 0.0), unit)
        op_walls = per_op_median(good, "wall_s")  # empty for the crawl
        for name in CATALOG_OPS:
            metrics[f"ops.{name}_s"] = (op_walls.get(name, 0.0), "s")
            metrics[f"ops.{name}_exchanges"] = (layers.get(f"ops.{name}_exchanges", 0.0), "count")
        metrics["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
        metrics["trace.timed_wall_s"] = (layers.get("trace.timed_wall_s", 0.0), "s")
        metrics["host.steal_frac"] = (res["steal_frac"], "ratio")
        metrics["host.load1"] = (res["load1"], "load")
        # the untraced operations run once before and once after the traced
        # ones, so their mean has about the traced operations' warmth
        ref = [op for op in ops if op["kind"] == "untraced" and op["ok"]]
        if workload == "catalog-heavy":
            traced_wall = wall  # one median pass
            ref_wall = sum(op["wall_s"] for op in ref) * len(CATALOG_OPS) / len(ref) if ref else 0.0
        else:
            traced_wall = wall / len(good) if good else 0.0
            ref_wall = statistics.mean(op["wall_s"] for op in ref) if ref else 0.0
        metrics["trace.overhead_frac"] = (traced_wall / ref_wall - 1 if ref_wall > 0 else 0.0, "ratio")
        metrics["failed_frac"] = (failed / attempted if attempted else 0.0, "ratio")
    return {
        "correct": failed == 0 and bool(good),
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }



def main():
    # a terminated run still kills and waits for its JVM (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    root = Path.cwd()
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala").is_dir():
        fail(f"{root} is not a source checkout (no build.sbt / src/main/scala)")
    if not (root / "tools" / "check_oracles.py").is_file():
        fail(f"{root} has no tools/check_oracles.py to compare catalog rows with")
    jars = spark_jars(root)
    out = root / ".bench_build" / "perfbench"
    out.mkdir(parents=True, exist_ok=True)
    t_build = time.time()
    classes = build(root, out, jars)
    t_start += time.time() - t_build  # the build has its own limit

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = out / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    flags = jvm_flags(work)
    cmd = ["java", *flags, "-cp", os.pathsep.join([str(classes), classpath(jars)]),
           "perfbench.Harness", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--t0-ms", str(int(time.time() * 1000)), "--work", str(work),
           "--data", str(HERE / "data"), "--out", str(result_file),
           "--trace-out", str(out / "trace" / f"{tag}.spans.json")]
    rc = run_child(cmd, RUN_LIMIT_S - (time.time() - t_start), cwd=work)
    if rc != 0 or not result_file.exists():
        fail(f"harness exited {rc} without a result")
    res = json.loads(result_file.read_text())

    errors, counts = {}, {}
    if a.workload == "catalog-heavy":
        errors, counts = check_catalog(res["catalog"], HERE / "data", root)
    line = reduce(res, a.workload, a.trace == 1, errors, counts)

    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "flags": flags,
              "steal_frac": res["steal_frac"], "load1": res["load1"], "result": line,
              "wall_s": time.time() - t_start}
    with open(out / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
