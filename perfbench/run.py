#!/usr/bin/env python3
"""Medallion benchmark: builds the engine with the benchmark, runs one
workload, checks its outputs and prints every metric with its unit.

Run from the repository root:

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 15 --trace 0

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. `--workload all` runs every workload both ways. The
last line of standard output is the JSON result. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
import stats  # noqa: E402

WORKLOADS = ("daily_batch", "llm_dedup_ann")
HEAP = "3g"
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
STAGES = ("bronze_policies", "bronze_claims", "bronze_premiums", "bronze_properties",
          "silver_policies", "silver_claims", "silver_premiums", "silver_properties",
          "gold_dim_policy", "gold_dim_property", "gold_dim_coverage", "gold_dim_date",
          "gold_fact_claims", "gold_fact_premiums", "dq_gate")
GROUPS = {"pipeline.bronze": "bronze_", "pipeline.silver": "silver_",
          "pipeline.gold": "gold_", "pipeline.dq_gate": "dq_gate"}
GATES = ("llm_semantic_dedup", "llm_crossmodal_clusters", "llm_dedup_clusters",
         "llm_ivfpq_topk", "llm_ann_ivf_topk", "llm_embedding_neardup",
         "llm_kmeans_ivf_build", "llm_bpe_encode")

_child = None


class BenchError(Exception):
    pass


def _stop_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGTERM)
            _child.wait(timeout=15)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            try:
                os.killpg(_child.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            _child.wait()


def _on_signal(signum, _frame):
    _stop_child()
    sys.exit(128 + signum)


def run_child(cmd, timeout, log, **kw):
    """Run `cmd` in its own process group, output to `log`; stop the whole
    group and wait for it if it outlives `timeout`."""
    global _child
    with open(log, "w") as out:
        _child = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                  start_new_session=True, **kw)
        try:
            return _child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            _stop_child()
            raise BenchError(f"{cmd[0]} did not finish within {timeout:.0f} s")
        finally:
            _child = None


def source_stamp(root):
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "perfbench" / "build.sbt"]
    for d in (root / "src" / "main", root / "perfbench" / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root, work):
    """Compile the engine and the benchmark with sbt; cache the runtime
    classpath until a source file changes."""
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    stamp = source_stamp(root)
    cached = out / "classpath.json"
    if cached.exists():
        c = json.loads(cached.read_text())
        if c.get("stamp") == stamp:
            return c["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = work / "build.log"
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, log,
                   cwd=root / "perfbench", env=env)
    lines = log.read_text(errors="replace").splitlines()
    if rc != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise BenchError(f"build failed (sbt exit {rc})")
    cached.write_text(json.dumps({"stamp": stamp, "classpath": lines[-1]}))
    return lines[-1]


def measure(root, classpath, workload, seed, seconds, trace, work):
    """One JVM run of one workload; returns its raw report."""
    cpus = len(os.sched_getaffinity(0))
    report = work / "report.json"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", classpath, "perfbench.Main", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--cpus", str(cpus), "--work", str(work), "--report", str(report)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = work / "jvm.log"
    rc = run_child(cmd, RUN_TIMEOUT_S, log, cwd=root)
    if rc != 0 or not report.exists():
        sys.stderr.write("\n".join(log.read_text(errors="replace").splitlines()[-40:]) + "\n")
        raise BenchError(f"{workload} run failed (java exit {rc})")
    return json.loads(report.read_text())


def op_times(report, traced=False):
    return [o["seconds"] for o in report["ops"] if "seconds" in o and o["traced"] == traced]


def check_outputs(report, workload):
    """Add to each operation's errors every result fingerprint that differs
    from the one recorded for the workload. Only a workload whose inputs do
    not depend on the seed has recorded fingerprints."""
    expected = json.loads((HERE / "expected_outputs.json").read_text()).get(workload, {})
    for o in report["ops"]:
        for name, fp in o["outputs"].items():
            if name in expected and expected[name] != fp:
                o["errors"].append(f"{name} fingerprint {fp} differs from the recorded "
                                   f"{expected[name]}")


def outcome(report):
    """(attempted, failed, error messages); a failed set-up counts as a
    failed attempt."""
    errors = [f"op {o['op']}: {e}" for o in report["ops"] for e in o["errors"]]
    failed = sum(1 for o in report["ops"] if o["errors"])
    attempted = len(report["ops"])
    setup_errors = report["setup_errors"]
    return attempted + len(setup_errors), failed + len(setup_errors), setup_errors + errors


def end_to_end(report):
    return {
        "op_median_s": stats.median(op_times(report)),
        "setup_s": stats.median(report["prepare_s"]),
    }


def per_op(report, fn):
    """Median over traced operations of `fn(op, spans of op)`; operations
    where `fn` gives None are skipped."""
    values = []
    for o in report["ops"]:
        if not o["traced"] or "seconds" not in o:
            continue
        v = fn(o, [s for s in report["spans"] if s["op"] == o["op"]])
        if v is not None:
            values.append(v)
    return stats.median(values)


def span_sum(spans, pred, key="seconds"):
    chosen = [s for s in spans if pred(s["name"])]
    return sum(s[key] for s in chosen) if chosen else None


def counters(report, prefix, pred):
    cores = report["cpus"]

    def sched(o, spans):
        wall = span_sum(spans, pred)
        run = span_sum(spans, pred, "executor_run_s")
        return None if not wall else 1.0 - run / (wall * cores)

    return {
        f"{prefix}.jobs": per_op(report, lambda o, s: span_sum(s, pred, "jobs")),
        f"{prefix}.shuffle_bytes": per_op(report, lambda o, s: span_sum(s, pred, "shuffle_bytes")),
        f"{prefix}.cpu_s": per_op(report, lambda o, s: span_sum(s, pred, "cpu_s")),
        f"{prefix}.sched_share": per_op(report, sched),
    }


def per_layer(report):
    """Per-layer metrics of a traced run. Its untraced operations, one
    before and one after the traced ones, are the base of the tracing
    overhead."""
    def phase(name):
        return per_op(report, lambda o, s: o["phases"].get(name))

    def span(name):
        return per_op(report, lambda o, s: span_sum(s, lambda n: n == name))

    m = {f"pipeline.stage.{st}_s": span(f"pipeline.stage.{st}") for st in STAGES}
    m["pipeline.stage_sum_s"] = phase("stage_sum_s")
    m["pipeline.critical_path_s"] = phase("critical_path_s")
    m["pipeline.stage_coverage"] = per_op(
        report, lambda o, s: (o["phases"]["stage_sum_s"] / o["phases"]["batch_s"])
        if o["phases"].get("batch_s") else None)
    m["pipeline.batch_s"] = phase("batch_s")
    m["validation.reconcile_s"] = phase("reconcile_s")
    for v in ("row_counts", "aggregates", "distributions", "table_diff"):
        m[f"validation.{v}_s"] = span(f"validation.{v}")
    for sp in ("sources.ingest_streaming", "sources.scd2_apply", "quality.scd2_integrity"):
        m[f"{sp}_s"] = span(sp)
    m["cdc.increment_s"] = phase("increment_s")

    def write_amp(o, spans):
        written = span_sum(spans, lambda n: n in ("sources.ingest_streaming",
                                                  "sources.scd2_apply"), "output_bytes")
        return written / o["input_bytes"] if written is not None and o["input_bytes"] else None

    m["cdc.write_amp"] = per_op(report, write_amp)
    for g in GATES:
        m[f"queries.{g}_s"] = span(f"queries.{g}")
    m["queries.llm_pass_s"] = phase("pass_s")
    for prefix, start in GROUPS.items():
        m.update(counters(report, prefix, lambda n, start=start: n.startswith("pipeline.stage." + start)))
    for name in ("validation.reconcile", "sources.ingest_streaming", "sources.scd2_apply",
                 "quality.scd2_integrity", *(f"queries.{g}" for g in GATES)):
        m.update(counters(report, name, lambda n, name=name: n == name))
    traced, base = stats.median(op_times(report, True)), stats.median(op_times(report))
    m["trace_overhead.op_median_s"] = traced / base if traced and base else None
    m["warm_up_s"] = report["warm_up_s"]
    m["peak_rss_mb"] = report["peak_rss_mb"]
    attempted, failed, _ = outcome(report)
    m["failed_share"] = failed / attempted if attempted else None
    m["trace.counts_complete"] = 1.0 if report["counts_complete"] else 0.0
    return m


def detail(report):
    """The workload's own names for its end-to-end numbers."""
    ops = [o for o in report["ops"] if "seconds" in o]
    d = {"operations": len(ops), "op_s": [o["seconds"] for o in ops],
         "op_traced": [o["traced"] for o in ops],
         "op_process_cpu_s": [o["process_cpu_s"] for o in ops],
         "session_s": report["session_s"],
         "prepare_s": report["prepare_s"],
         "warm_up_s": report["warm_up_s"],
         "measured_wall_s": report["measured_wall_s"]}
    for key, name in (("batch_s", "batch_s"), ("reconcile_s", "reconcile_s"),
                      ("increment_s", "increment_s"), ("pass_s", "llm_pass_s")):
        d[name] = stats.median([o["phases"][key] for o in ops if key in o["phases"]])
    t = stats.tail([o["seconds"] for o in ops])
    d["op_tail"] = {"percentile": t[0], "seconds": t[1]} if t else None
    attempted, failed, _ = outcome(report)
    d["failed_share"] = failed / attempted if attempted else None
    return {k: v for k, v in d.items() if v is not None}


def declared(root, trace):
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def one(root, classpath, workload, seed, seconds, trace, work):
    """Run and report one workload; returns (correct, attempted, failed, metrics)."""
    report = measure(root, classpath, workload, seed, seconds, trace, work)
    check_outputs(report, workload)
    values = per_layer(report) if trace else end_to_end(report)
    attempted, failed, errors = outcome(report)
    metrics = {}
    for name, unit in declared(root, trace):
        if name not in values:
            raise BenchError(f"metric {name} is declared but not computed")
        metrics[name] = (values[name], unit)
    print(f"== {workload} seed={seed} trace={trace}: {attempted} operations checked, "
          f"{failed} failed")
    for e in errors:
        print(f"   check failed: {e}")
    print("settings " + json.dumps(report["settings"], sort_keys=True))
    print("facts " + json.dumps(report["workload_facts"], sort_keys=True))
    print("detail " + json.dumps(detail(report)))
    for o in report["ops"][-1:]:
        if o["outputs"]:
            print("outputs " + json.dumps(o["outputs"], sort_keys=True))
    for name, (value, unit) in metrics.items():
        print(f"   {name:48s} {stats.number(value):14.6f} {unit}")
    if not report["counts_complete"]:
        print("   listener counts are incomplete: the bus did not drain in time")
    return not errors, attempted, failed, metrics


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir() or not (root / "build.sbt").is_file():
        sys.stderr.write("run from the repository root: the engine's sources "
                         "(build.sbt, src/main/scala) are not here\n")
        return 2
    for s in (signal.SIGTERM, signal.SIGINT):
        signal.signal(s, _on_signal)
    work = root / ".bench_build" / f"run-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    try:
        classpath = build(root, work)
        runs = ([(w, t) for w in WORKLOADS for t in (0, 1)] if args.workload == "all"
                else [(args.workload, args.trace)])
        correct, attempted, failed, metrics = True, 0, 0, {}
        for w, t in runs:
            shutil.rmtree(work / "run", ignore_errors=True)
            c, a, f, m = one(root, classpath, w, args.seed, args.seconds, t, work / "run")
            correct, attempted, failed = correct and c, attempted + a, failed + f
            prefix = f"{w}." if len(runs) > 1 else ""
            metrics.update({prefix + k: v for k, v in m.items()})
    except BenchError as e:
        sys.stderr.write(f"benchmark error: {e}\n")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(stats.result_line(correct, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
