#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload at sf0.1.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a graft checkout. The first run builds the engine
and the harness (perfbench/build.sbt) with sbt; later runs reuse the build
until a source file changes. The harness JVM runs on local[<cpus>] with
graft.Bench's session conf, makes one untimed warm-up pass whose outputs
are checked against perfbench/expected.json, then times closed-loop passes
for S seconds. The last line of stdout is the result JSON; every metric is
also printed by name with its unit and sample count. The raw record (and,
with --trace 1, the spans) is written under .perfbench/runs/.

    python3 perfbench/run.py --record DUMP_DIR

runs the warm-up over every query any workload can sample, writes
perfbench/expected.json from it and dumps each output as parquet under
DUMP_DIR (with oracle_sql.json) for tools/parity.py.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(WORK, "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
RECORD_TIMEOUT_S = 1800
TAIL_PASSES = 3
# -XX:-UsePerfData: the JVM would otherwise write its counters under the
# system temp directory, outside the checkout
JVM_FLAGS = ["-Xmx4g", "-XX:-UsePerfData"]
# what spark-submit adds on JDK 17 (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def fail(msg):
    raise BenchError(msg)


def load_json(path):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def build_inputs():
    """Files whose change makes the cached build stale."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    for f in ("build.sbt", "project/build.properties"):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def source_digest():
    h = hashlib.sha256()
    for p in sorted(build_inputs()):
        if os.path.exists(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def ensure_built():
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft checkout: {need} is missing under {ROOT}")
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(p) <= stamp for p in build_inputs() if os.path.exists(p)):
            return open(CLASSPATH).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], cwd=HERE, env=env,
                    timeout=BUILD_TIMEOUT_S, log=os.path.join(WORK, "build.log"))
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines or os.pathsep not in lines[-1]:
        fail(f"build did not print a classpath; see {os.path.join(WORK, 'build.log')}")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_child(cmd, cwd, env, timeout, log):
    """Run `cmd` in its own process group; stdout is returned, stdout and
    stderr are also kept in `log`. The group is killed, and waited for, on
    timeout and when this process is interrupted or terminated."""
    with open(log, "w") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=logf, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{cmd[0]} did not finish within {timeout} s; see {log}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
        logf.write(out)
    if p.returncode != 0:
        fail(f"{cmd[0]} exited with {p.returncode}; see {log}")
    return out


# ---------------------------------------------------------------- inputs

def data_dir():
    """The fixed sf0.1 tables: SPARK_GRAFT_SF_DIR, else graft.Bench's default."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        bench = os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")
        m = re.search(r'getOrElse\("SPARK_GRAFT_SF_DIR",\s*"([^"]+)"\)', open(bench).read())
        if not m:
            fail("cannot find graft.Bench's default SPARK_GRAFT_SF_DIR")
        d = m.group(1)
    if not os.path.isdir(d):
        fail(f"sf0.1 data directory {d} does not exist")
    return d


def workload_queries(spec, name, seed):
    """Timed order of one pass: a seeded permutation of the workload's
    fixed query set."""
    return stats.timed_order(spec["workloads"][name]["timed"], seed)


def git_rev():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


# ---------------------------------------------------------------- run

def run_harness(cp, names, seconds, trace, dump=None, timeout=RUN_TIMEOUT_S):
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "java-tmp"))
    try:
        qfile = os.path.join(tmp, "queries.txt")
        with open(qfile, "w") as f:
            f.write("\n".join(names) + "\n")
        out = os.path.join(tmp, "record.json")
        cpus = os.cpu_count()
        args = ["--data", data_dir(), "--queries", qfile, "--seconds", str(seconds),
                "--trace", str(trace), "--out", out, "--cpus", str(cpus)]
        if dump:
            args += ["--dump", dump]
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
        env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
        cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(tmp, 'java-tmp')}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graftbench.Harness"] + args
        launch_ms = int(time.time() * 1000)
        run_child(cmd + ["--launch-ms", str(launch_ms)], cwd=tmp, env=env,
                  timeout=timeout, log=os.path.join(WORK, "harness.log"))
        return load_json(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def check_outputs(rec, expected):
    """Queries whose warm-up output failed or differs from expected."""
    bad = []
    for w in rec["warmup"]:
        q = w["query"]
        exp = expected.get(q)
        if "error" in w:
            bad.append((q, w["error"]))
        elif exp is None:
            bad.append((q, "no expected output recorded"))
        elif w["count"] != exp["rows"] or w["rows"] != exp["rows"]:
            bad.append((q, f"rows {w['count']} != expected {exp['rows']}"))
        elif "fingerprint" in exp and w["fingerprint"] != exp["fingerprint"]:
            bad.append((q, "row fingerprint differs from expected"))
    return bad


def end_to_end(rec, failed, attempted):
    passes = [p for p in rec["passes"] if not p["traced"]]
    lat = [[q["end_s"] - q["start_s"] for q in p["queries"]] for p in passes]
    pooled = [x for xs in lat for x in xs]
    # the tail pools a fixed number of passes, so its percentile does not
    # move when a faster build fits more passes into the run
    tail_v, tail_pct, beyond, n = stats.tail([x for xs in lat[:TAIL_PASSES] for x in xs])
    s = rec["setup"]
    return {
        "pass_s": (stats.median([p["pass_s"] for p in passes]), "s", len(passes), None),
        "query_p50_s": (stats.median([stats.median(xs) for xs in lat]), "s", len(pooled), None),
        "query_tail_s": (tail_v, "s", n, f"p{tail_pct:.1f}, {beyond} queries beyond"),
        "setup_s": ((s["warm_end_ms"] - s["launch_ms"]) / 1e3, "s", 1, None),
        # the median over a pass's queries, because the largest value is set
        # by broadcast blocks Spark's cleaner has not released yet and moved
        # by 16 % between runs where the median moved by 7 %
        "retained_heap_mb": (stats.median([stats.median([q["heap_mb"] for q in p["queries"]])
                                           for p in passes]), "MB", len(pooled), None),
        "retained_heap_max_mb": (stats.median([max(q["heap_mb"] for q in p["queries"])
                                               for p in passes]), "MB", len(pooled), None),
        "failed_frac": (stats.failed_frac(attempted, failed), "ratio", attempted, None),
    }


def pass_spans(p):
    """query -> {operators.build, action} -> exec.job -> exec.stage."""
    spans, built = [], {}
    for q in p["queries"]:
        qid = "q:" + q["query"]
        built[q["query"]] = q["built_s"]
        spans += [
            {"id": qid, "parent": None, "name": "query", "query": q["query"],
             "start": q["start_s"], "end": q["end_s"]},
            {"id": qid + ":build", "parent": qid, "name": "operators.build", "query": q["query"],
             "start": q["start_s"], "end": q["built_s"]},
            {"id": qid + ":action", "parent": qid, "name": "action", "query": q["query"],
             "start": q["built_s"], "end": q["end_s"]},
        ]
    for j in p.get("jobs", []):
        if j["query"] not in built or j["end_s"] < 0:
            continue
        phase = "build" if j["start_s"] < built[j["query"]] else "action"
        spans.append({"id": f"j:{j['job']}", "parent": f"q:{j['query']}:{phase}",
                      "name": "exec.job", "query": j["query"],
                      "start": j["start_s"], "end": j["end_s"]})
    jobs = {sp["id"] for sp in spans}
    for st in p.get("stages", []):
        if f"j:{st['job']}" not in jobs or st["start_s"] < 0 or st["end_s"] < 0:
            continue
        spans.append({"id": f"s:{st['stage']}", "parent": f"j:{st['job']}",
                      "name": "exec.stage", "query": st["query"],
                      "start": st["start_s"], "end": st["end_s"]})
    return spans


def per_layer(rec, cpus):
    # the first pass is still settling, so the overhead is taken against
    # the untraced passes after it
    untraced = [p for p in rec["passes"][1:] if not p["traced"]]
    tp = next(p for p in rec["passes"] if p["traced"])
    qs = tp["queries"]
    spans = pass_spans(tp)
    for sp, st in zip(spans, stats.self_times(spans).values()):
        sp["self"] = st
    by_layer = stats.layer_self_times(spans)
    if abs(sum(by_layer.values()) - tp["pass_s"]) > 1e-6 * len(spans):
        fail(f"layer self times add up to {sum(by_layer.values())}, not pass_s {tp['pass_s']}")
    build_s = sum(q["built_s"] - q["start_s"] for q in qs)
    action_s = sum(q["end_s"] - q["built_s"] for q in qs)
    names = {q["query"] for q in qs}
    jobs = [j for j in tp["jobs"] if j["query"] in names]
    built = {q["query"]: q["built_s"] for q in qs}
    stages = [s for s in tp["stages"] if s["query"] in names]
    phases = [tp["phases"].get(q, {}) for q in names]
    skews = [max(s["task_run_s"]) / max(stats.median(s["task_run_s"]), 1e-3)
             for s in stages if len(s["task_run_s"]) >= 2]
    builds = [b for q in qs for b in q["artifact_builds"]]
    src = rec["sources"]
    run_s = sum(s["run_s"] for s in stages)
    m = {
        "sources.load_s": stats.median([s["load_s"] for s in src]) if src else 0.0,
        "sources.load_jobs": sum(s["jobs"] for s in src) / max(1, len(src)),
        "operators.build_s": build_s,
        "operators.build_jobs": sum(1 for j in jobs if j["start_s"] < built[j["query"]]),
        "operators.build_share": build_s / tp["pass_s"],
        "plans.analysis_s": sum(p.get("analysis", 0.0) for p in phases),
        "plans.optimization_s": sum(p.get("optimization", 0.0) for p in phases),
        "plans.planning_s": sum(p.get("planning", 0.0) for p in phases),
        "plans.query_executions": sum(tp["executions"].get(q, 0) for q in names),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.run_s": run_s,
        "exec.cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.task_gc_s": sum(s["gc_s"] for s in stages),
        "exec.task_wait_s": sum(s["wait_s"] for s in stages),
        "exec.core_busy": run_s / (action_s * cpus) if action_s > 0 else 0.0,
        "exec.task_skew": stats.median(skews) if skews else 1.0,
        "exec.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "shuffle.records": sum(s["shuffle_write_records"] for s in stages),
        "shuffle.fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
        "shuffle.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "artifact.build_s": sum(b["build_s"] for b in builds),
        "artifact.builds": len(builds),
        "codegen.compiles": tp["codegen_compiles"],
        "codegen.compile_s": tp["codegen_compile_s"],
        "jvm.gc_s": sum(q["gc_s"] for q in qs),
        "self.query_s": by_layer.get("query", 0.0),
        "self.operators.build_s": by_layer.get("operators.build", 0.0),
        "self.action_s": by_layer.get("action", 0.0),
        "self.exec.job_s": by_layer.get("exec.job", 0.0),
        "self.exec.stage_s": by_layer.get("exec.stage", 0.0),
        "trace.pass_s": tp["pass_s"],
        "trace.overhead_s": tp["pass_s"] - stats.median([p["pass_s"] for p in untraced]),
    }
    for r in rec["kernels"]:
        m[f"kernel.{r['kernel']}.rows_per_s"] = r["rows"] / r["kernel_s"]
        m[f"kernel.{r['kernel']}.vs_builtin"] = r["builtin_s"] / r["kernel_s"]
    units = {"rows_per_s": "rows/s", "_s": "s", "_bytes": "bytes", "_share": "ratio",
             "_ratio": "ratio", "core_busy": "ratio", "task_skew": "ratio",
             "vs_builtin": "ratio"}
    out = {}
    for k, v in m.items():
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        out[k] = (v, unit, len(qs), None)
    return out, spans, builds


def print_metrics(ms):
    for k, (v, unit, n, note) in ms.items():
        extra = f"  [{note}]" if note else ""
        print(f"{k:32s} {v:>16.6f} {unit:8s} n={n}{extra}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", metavar="DUMP_DIR")
    a = ap.parse_args()
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load_json(os.path.join(HERE, "workloads.json"))
    cp = ensure_built()

    if a.record:
        return record(cp, spec, os.path.abspath(a.record))
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; one of {sorted(spec['workloads'])}")
    names = workload_queries(spec, a.workload, a.seed)
    rec = run_harness(cp, names, a.seconds, a.trace)

    expected = load_json(os.path.join(HERE, "expected.json"))
    bad = check_outputs(rec, expected)
    timed_failed = [(q["query"], q["error"]) for p in rec["passes"] for q in p["queries"] if not q["ok"]]
    kernel_bad = [(k["kernel"], f"{k['mismatches']} rows differ from the built-in form")
                  for k in rec.get("kernels", []) if k["mismatches"]]
    attempted = len(rec["warmup"]) + sum(len(p["queries"]) for p in rec["passes"])
    failed = len(bad) + len(timed_failed)
    for q, why in bad + timed_failed + kernel_bad:
        print(f"FAILED {q}: {why}")

    e2e = end_to_end(rec, failed, attempted) if not a.trace else None
    meta = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "git_rev": git_rev(), "source_digest": source_digest(), "queries": names,
            "conf": rec["conf"], "cpus": rec["cpus"], "jvm": rec["jvm"], "spark": rec["spark"]}
    print(f"run: workload={a.workload} seed={a.seed} cpus={rec['cpus']} jvm={rec['jvm']} "
          f"git_rev={meta['git_rev']} source_digest={meta['source_digest']}")
    print(f"queries per pass: {len(names)}; timed passes: {len(rec['passes'])}")
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    base = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    if a.trace:
        ms, spans, builds = per_layer(rec, rec["cpus"])
        for b in builds:
            print(f"artifact {b['key']}: built in {b['build_s']:.4f} s")
        with open(base + "-spans.json", "w") as f:
            json.dump(spans, f)
        wanted = [m["name"] for m in bench["per_layer"]]
    else:
        ms = e2e
        wanted = [m["name"] for m in bench["end_to_end"]]
    print_metrics(ms)
    with open(base + ".json", "w") as f:
        json.dump({"meta": meta, "record": rec, "metrics": {k: v[0] for k, v in ms.items()}}, f)
    result = {
        "correct": not (bad or timed_failed or kernel_bad),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": ms[k][0], "unit": ms[k][1]} for k in wanted},
    }
    print(json.dumps(result))
    return 0


def record(cp, spec, dump):
    """Expected outputs for every query a workload times."""
    names = set()
    for w in spec["workloads"].values():
        names |= set(w["timed"])
    names = sorted(names)
    os.makedirs(dump, exist_ok=True)
    rec = run_harness(cp, names, 0, 0, dump=dump, timeout=RECORD_TIMEOUT_S)
    # queries without a DuckDB oracle (the sketch estimators) are checked
    # by row count only
    oracles = load_json(os.path.join(dump, "oracle_sql.json"))
    expected, errors = {}, []
    for w in rec["warmup"]:
        if "error" in w:
            errors.append(w)
        elif w["query"] in oracles:
            expected[w["query"]] = {"rows": w["rows"], "fingerprint": w["fingerprint"]}
        else:
            expected[w["query"]] = {"rows": w["rows"]}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    print(f"recorded {len(expected)} queries, {len(errors)} errors: {errors}")
    return 1 if errors else 0


def _terminated(signum, frame):
    raise BenchError(f"terminated by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminated)
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
