#!/usr/bin/env python3
"""Benchmark of the graft engine: replication lag, an aged table drained
beside a reader, and a batch operator mix.

Run from the repository root:

    python3 perfbench/run.py --workload stream --seed 1 --seconds 20 --trace 0

Workloads: ``stream`` (a fresh phase, then an aged phase, in one process)
and ``batch_mix``. ``--workload all`` runs both one after the other and
prints every end-to-end metric of each. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics. The full measurement of a run
(every named metric, the environment stamp, the spans of a traced run)
is written under ``.bench_build/results/``.

The engine is compiled from ``src/main/scala`` with the Scala compiler
that ships in the Spark distribution (``$SPARK_HOME/jars``, else the
directory ``build.sbt`` names as ``unmanagedBase``); everything the
benchmark writes stays under ``.bench_build/`` in the current directory.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

LAUNCH = time.time()
ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
DEADLINE_S = 170  # a run must end within 180 s

# Every workload: how its inputs are generated and how the JVM runs it.
# The stream workload runs two phases in one process: the fresh phase
# measures for FRESH_SHARE of --seconds, the aged phase for the rest.
FRESH_SHARE = 1 / 3
# The fresh phase's open loop lands one file per FRESH_INTERVAL_MS after
# one warm-up file; the JVM spreads the window over the files it is given.
FRESH_INTERVAL_MS = 400
WORKLOADS = {
    "stream": {
        "why": "fresh phase: open-loop 100-change files into a fresh copy-on-write "
               "table (replication lag); aged phase: closed-loop merge-on-read drain "
               "into an aged table beside a point reader",
        "phases": {
            "fresh": {"gen": {"orders": 10000},
                      "jvm": {"seed_files": 4, "trigger_ms": 50}},
            # closed loop: enough files for triggers of 1/3 s and more
            "aged": {"gen": {"orders": 20000, "appends": 6, "append_rows": 50},
                     "jvm": {"seed_files": 40, "trigger_ms": 0}},
        },
    },
    "batch_mix": {
        "why": "registered batch queries (CDC batch form and LLM-data operators); "
               "no streaming, no table log",
        # orders at the sf0.1 size: the change log derived from it has ~14.5k rows
        "gen": {"orders": 150000, "documents": 600, "embeddings": 600},
        "queries": [
            "cdc_capture_diff", "cdc_dedup_latest", "cdc_apply_changes",
            "cdc_compact_log", "cdc_health_report",
            "dedup_simhash", "ann_lsh", "text_entropy", "corpus_bigrams",
        ],
    },
}

# BENCHMARK.json end-to-end metrics: each workload's named metric behind
# each contract name.
HEADLINE = {
    "stream": {"latency_ms": "fresh.lag_p50_ms", "apply_ms": "aged.trigger_p50_ms",
               "changes_per_s": "aged.changes_per_s", "read_ms": "aged.read_p50_ms"},
    "batch_mix": {"latency_ms": "mix_ms", "apply_ms": "apply_ms",
                  "changes_per_s": "apply_changes_per_s", "read_ms": "ext_ms"},
}

# BENCHMARK.json per-layer metrics measured on both workloads: the stream
# phase each comes from (batch_mix reports them under the same name).
STREAM_LAYER = {
    "apply.dedup_ms": "fresh.apply.dedup_ms",
    "monitor.health_ms": "fresh.monitor.health_ms",
    "bench.tracing_overhead": "fresh.bench.tracing_overhead",
    "bench.span_coverage": "fresh.bench.span_coverage",
    **{f"spark.{k}": f"aged.spark.{k}" for k in (
        "jobs_per_op", "stages_per_op", "tasks_per_op", "task_ms", "task_gc_ms",
        "driver_gc_ms", "max_task_ms", "shuffle_read_bytes", "shuffle_write_bytes")},
}

UNITS = {
    "setup_s": "s", "lag_p50_ms": "ms", "lag_tail_ms": "ms", "trigger_p50_ms": "ms",
    "trigger_tail_ms": "ms", "changes_per_s": "1/s", "read_p50_ms": "ms",
    "read_tail_ms": "ms", "reads_per_s": "1/s", "mix_s": "s", "apply_changes_per_s": "1/s",
    "table_bytes_per_row": "B", "peak_rss_mb": "MiB", "error_rate": "ratio",
}

# Trace self-check: the least median share of a trigger's addBatch
# (stream: Spark jobs and sampled driver-side runs the trace attributed to
# an engine module) or of a query's wall time (batch_mix: the query's
# jobs) that child spans cover. A traced run below it is not correct.
MIN_SPAN_COVERAGE = {"fresh": 0.7, "aged": 0.7, "batch_mix": 0.4}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ build

def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "scala/*.scala")))
    if not engine:
        fail("engine sources (src/main/scala) not found; run from the repository root")
    return engine + bench


def spark_jars():
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the directory the
    project's build.sbt names as ``unmanagedBase``."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return None
    return m.group(1) if m else None


JARS = spark_jars()


def build():
    """Compile engine + benchmark once per source state; returns the
    classes directory."""
    if not JARS or not os.path.isdir(JARS):
        fail(f"Spark jars not found (set SPARK_HOME); looked at {JARS}")
    files = sources()
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"classes-{key}")
    if os.path.isdir(out):
        return out, key
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cp = f"{JARS}/*"
    t0 = time.time()
    r = subprocess.run(["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed:\n" + r.stdout[-4000:], 1)
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out, key


# ------------------------------------------------------------------ environment

def cpu_ticks():
    """(steal, total) jiffies of all CPUs: on a shared VM, steal is the
    time the host ran someone else while this machine wanted the CPU."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def mem_available_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


# ------------------------------------------------------------------ one run

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, work, args, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", *JVM_OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work,
           "-cp", f"{classes}:{JARS}/*", "perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, log_path, "timed out"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    out = args["out"]
    if proc.returncode != 0 or not os.path.exists(out):
        return None, log_path, f"JVM exited with {proc.returncode}"
    with open(out) as f:
        return json.load(f), log_path, None


def oracle_check(inputs, outdir, names):
    """Each batch query's output against its DuckDB twin, in the way
    tools/compare_oracle.py compares them: columns sorted by name, rows
    in the query's own order, floats sign-of-zero sensitive."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads=2")
    con.sql(f"SET temp_directory='{outdir}/duckdb_tmp'")
    for t in glob.glob(os.path.join(inputs, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(t)[:-8]} AS SELECT * FROM '{t}'")
    with open(os.path.join(outdir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    results = {}
    for name in names:
        if name not in oracle:
            results[name] = "no oracle SQL"
            continue
        try:
            sdf = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
            odf = con.sql(oracle[name]).df()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            results[name] = f"error: {str(e)[:200]}"
            continue
        sdf, odf = sdf[sorted(sdf.columns)], odf[sorted(odf.columns)]
        if list(sdf.columns) != list(odf.columns):
            results[name] = "column mismatch"
        elif len(sdf) != len(odf):
            results[name] = f"rows {len(sdf)} vs oracle {len(odf)}"
        elif [str(t) for t in sdf.dtypes] != [str(t) for t in odf.dtypes]:
            results[name] = "dtype mismatch"
        else:
            results[name] = "ok"
            for c in sdf.columns:
                for i, (x, y) in enumerate(zip(sdf[c].tolist(), odf[c].tolist())):
                    if isinstance(x, float) and isinstance(y, float):
                        same = (math.isnan(x) and math.isnan(y)) or (
                            x == y and math.copysign(1.0, x) == math.copysign(1.0, y))
                    else:
                        same = bool(x == y) if not hasattr(x, "__len__") or isinstance(x, str) \
                            else list(x) == list(y)
                    if not same:
                        results[name] = f"value row {i} col {c}: {x!r} vs {y!r}"[:200]
                        break
                if results[name] != "ok":
                    break
    con.close()
    return results


def run_workload(workload, seed, seconds, trace, classes, src_key):
    spec = WORKLOADS[workload]
    stamp_start = {"load_avg_start": os.getloadavg()[0], "mem_available_mb_start": mem_available_mb()}
    steal0, total0 = cpu_ticks()
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    os.makedirs(work)
    t_gen = time.time()
    args = {"workload": workload, "inputs": inputs, "work": work, "seconds": seconds,
            "trace": trace, "seed": seed, "out": os.path.join(work, "result.json"),
            "batch_rows": gen.BATCH_SIZE}
    if workload == "batch_mix":
        desc = gen.generate(workload, seed, inputs, spec["gen"])
        params = {}
        args["queries"] = ",".join(spec["queries"])
    else:
        desc, params = {}, {}
        fresh_s = max(1, round(seconds * FRESH_SHARE))
        for phase, ph in spec["phases"].items():
            jvm = dict(ph["jvm"], seconds=fresh_s if phase == "fresh" else max(1, seconds - fresh_s))
            p = dict(ph["gen"])
            if phase == "fresh":
                p["files"] = 1 + math.ceil(jvm["seconds"] * 1000 / FRESH_INTERVAL_MS)
            else:
                p["files"] = 8 + 3 * jvm["seconds"]
            d = gen.generate(phase, seed, os.path.join(inputs, phase), p)
            with open(os.path.join(inputs, phase, "stable_keys.txt"), "w") as f:
                f.write("\n".join(str(k) for k in d.pop("stable_keys")))
            jvm.update(files=p["files"], max_key=d["max_key"])
            args.update({f"{phase}.{k}": v for k, v in jvm.items()})
            desc[phase], params[phase] = d, jvm
        desc.update(seed=seed, op_mix=gen.OP_MIX, batch_size=gen.BATCH_SIZE,
                    key_skew=desc["fresh"]["key_skew"])
    t_jvm = time.time()
    args["launch_ms"] = int(t_jvm * 1000)
    res, log_path, err = run_jvm(classes, work, args, LAUNCH + DEADLINE_S)
    t_post = time.time()
    if res is None:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"{workload}: {err}\n{tail}", 1)
    e2e = res["e2e"]
    if workload == "batch_mix":
        oracle = oracle_check(inputs, os.path.join(work, "out"), spec["queries"])
        bad = {k: v for k, v in oracle.items() if v != "ok"}
        res["oracle"] = oracle
        res["attempted"] += len(oracle)
        res["failed"] += len(bad)
        res["correct"] = res["correct"] and not bad
        res["failures"].extend(f"oracle {k}: {v}" for k, v in bad.items())
        e2e["mix_ms"] = e2e["mix_s"] * 1000.0
    if trace:
        layers = res["layers"]["metrics"]
        for part in (["fresh", "aged"] if workload == "stream" else [workload]):
            key = "bench.span_coverage" if part == workload else f"{part}.bench.span_coverage"
            cov = layers.get(key)
            res["attempted"] += 1
            if not (isinstance(cov, (int, float)) and cov >= MIN_SPAN_COVERAGE[part]):
                res["failed"] += 1
                res["correct"] = False
                res["failures"].append(f"trace self-check: {key} {cov} below "
                                       f"{MIN_SPAN_COVERAGE[part]}")
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    e2e["error_rate"] = res["failed"] / max(1, res["attempted"])
    steal1, total1 = cpu_ticks()
    res["env"].update(stamp_start, load_avg_end=os.getloadavg()[0],
                      cpu_steal_share=(steal1 - steal0) / max(1, total1 - total0),
                      mem_available_mb_end=mem_available_mb(), jvm_heap=HEAP,
                      git_commit=git_commit(), source_sha256_16=src_key)
    res["inputs"] = desc
    res["params"] = {"seconds": seconds, "trace": trace, **params}
    res["why"] = spec["why"]
    shutil.rmtree(run_dir, ignore_errors=True)
    res["harness_s"] = {"generate": t_jvm - t_gen, "jvm": t_post - t_jvm,
                        "after_jvm": time.time() - t_post}
    return res


def finite(v):
    return isinstance(v, (int, float)) and math.isfinite(v)


def contract_metrics(workload, res, trace):
    c = contract()
    if not trace:
        named = {**res["e2e"], **{k: res["e2e"][v] for k, v in HEADLINE[workload].items()}}
        bad = [m["name"] for m in c["end_to_end"] if not finite(named[m["name"]])]
        if bad:
            fail(f"{workload}: no measurement for {', '.join(bad)}", 1)
        return {m["name"]: {"value": named[m["name"]], "unit": m["unit"]} for m in c["end_to_end"]}
    layers = res["layers"]["metrics"]
    source = STREAM_LAYER if workload == "stream" else {}
    # a phase-qualified count the workload does not have is 0 there
    values = {m["name"]: layers.get(source.get(m["name"], m["name"])) for m in c["per_layer"]}
    return {m["name"]: {"value": values[m["name"]] if finite(values[m["name"]]) else 0.0,
                        "unit": m["unit"]}
            for m in c["per_layer"]}


def report(workload, res, trace):
    print(f"== {workload}  (seed {res['inputs']['seed']}, op mix "
          f"{res['inputs']['op_mix']}, batch {res['inputs']['batch_size']}, "
          f"skew {res['inputs']['key_skew']})")
    if not trace:
        for k, v in sorted(res["e2e"].items()):
            unit = UNITS.get(k.split(".")[-1])
            if unit:
                print(f"  {k:28s} {v:14.4f} {unit}")
    else:
        for k, v in sorted(res["layers"]["metrics"].items()):
            print(f"  {k:40s} {v:14.4f}" if isinstance(v, (int, float)) and v is not None
                  else f"  {k:40s} {v}")
    env = res["env"]
    print(f"  env: nproc={env['nproc']} heap={env['jvm_heap']} "
          f"mem_available_mb={env['mem_available_mb_start']:.0f} "
          f"load={env['load_avg_start']:.2f}->{env['load_avg_end']:.2f} "
          f"cpu_steal={env['cpu_steal_share']:.2f} "
          f"jdk={env['jdk']} spark={env['spark']} commit={env['git_commit']}")
    for f in res.get("failures", []):
        print(f"  FAILURE: {f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found; run from the repository root")
    classes, key = build()
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        global LAUNCH
        if a.workload == "all":
            LAUNCH = time.time()
        res = run_workload(w, a.seed, a.seconds, a.trace, classes, key)
        results[w] = res
        out = os.path.join(BUILD, "results", f"{w}-seed{a.seed}-trace{a.trace}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        spans = res.get("layers", {}).pop("spans", None) if a.trace else None
        with open(out, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        if spans is not None:
            with open(out[:-5] + ".spans.json", "w") as f:
                json.dump(spans, f)
        report(w, res, a.trace)
    if len(names) == 1:
        res = results[names[0]]
        metrics = contract_metrics(names[0], res, a.trace)
    else:
        metrics = {f"{w}.{k}": v for w in names
                   for k, v in contract_metrics(w, results[w], a.trace).items()}
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": metrics}))


if __name__ == "__main__":
    main()
