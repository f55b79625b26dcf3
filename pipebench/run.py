"""Pipeline benchmark: runs one workload against the program and prints its
metrics as one JSON line (the last line of stdout).

    python3 pipebench/run.py --workload live_ingest --seed 1 --seconds 20 --trace 0

Workloads, metrics and the layer map are described in pipebench/README.md.
With --trace 0 the end-to-end metrics are printed; with --trace 1 the
per-layer ones, from a run whose middle part is traced.
"""

import argparse
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402

SETUPS = 3            # set-ups per run; setup_s is their median
JVM_HEAP = "3g"       # initial = maximum, so peak RSS does not hang on heap-growth timing
JVM_TIMEOUT_S = 170
MB = 1024.0 * 1024.0

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    sys.stderr.write(f"[pipebench] {msg}\n")
    sys.stderr.flush()


def pct(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


# ---------------------------------------------------------------- the JVM

def run_jvm(cp, work, workload, data_dir, seconds, trace, cores):
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.hadoop.hadoop.tmp.dir": f"{work}/tmp",
        "java.io.tmpdir": f"{work}/tmp",
    }
    os.makedirs(f"{work}/tmp", exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-D{k}={v}" for k, v in props.items()]
           + ["-cp", cp, "pipebench.Main", f"workload={workload}", f"data={data_dir}",
              f"work={work}", f"seconds={seconds}", f"trace={int(trace)}", f"cores={cores}",
              f"setups={SETUPS}"])
    with open(f"{work}/jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed ({code})")
    with open(f"{work}/result.json") as f:
        return json.load(f)


# ---------------------------------------------------------------- api_mix

def api_observe(res, work, data_dir, oracle):
    phases = res["phases"]
    failed = checks.check_api(work, data_dir, oracle, [r for p in phases for r in p["requests"]])
    base = phases[0]["requests"]
    lat = [r[2] for r in base]
    block = datagen.BLOCK_LOOKUPS + datagen.BLOCK_BOARDS
    blocks = [sum(lat[i:i + block]) / 1000.0 for i in range(0, len(lat) - block + 1, block)]
    wall = phases[0]["wall_s"]
    log(f"api_mix: {len(base)} requests in {wall:.1f} s, {len(blocks)} blocks of {block}")
    return {
        "e2e": {"latency_p50_ms": median(lat), "latency_p90_ms": pct(lat, 90),
                "requests_per_s": len(base) / wall, "rows_per_s": sum(r[3] for r in base) / wall,
                "wall_s": median(blocks)},
        "attempted": sum(len(p["requests"]) for p in phases), "failed": len(failed),
        "headline": lambda p: [r[2] for r in p["requests"]],
    }


# ---------------------------------------------------------------- live_ingest

def source_log(ckpt):
    """Dropped file name -> the file source's log offset, from its log
    (numbered files and compactions; .crc and temp files skipped)."""
    out = {}
    d = f"{ckpt}/sources/0"
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if re.fullmatch(r"\d+(\.compact)?", name):
            with open(os.path.join(d, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = e["batchId"]
    return out


def batch_times(progress):
    """File-source log offset -> (start_ms, end_ms, batchId) of the
    micro-batch that read the files logged under it. (The source numbers
    its log apart from the query's batch ids, which also count no-data
    batches.)"""
    def log_offset(o):
        return -1 if o is None else o["logOffset"]
    out = {}
    for p in progress:
        if p["numInputRows"] > 0:
            start = checks.epoch_ms(p["timestamp"])
            src = p["sources"][0]
            for off in range(log_offset(src["startOffset"]) + 1, log_offset(src["endOffset"]) + 1):
                out[off] = (start, start + p["durationMs"]["triggerExecution"], p["batchId"])
    return out


class Drops:
    """Each dropped file joined with the micro-batch that committed it."""

    def __init__(self, res):
        self.batch_of = source_log(res["extra"]["checkpoint"])
        self.times = batch_times(res["phases"][-1]["progress"])

    def committed(self, phase):
        """(due, batch start, batch end, rows, bytes, batch id) per drop."""
        out = []
        for name, due, _, rows, size in phase["drops"]:
            t = self.times.get(self.batch_of.get(name))
            if t:
                out.append((due, t[0], t[1], rows, size, t[2]))
        return out

    def missing(self, phase):
        return [d[0] for d in phase["drops"] if self.times.get(self.batch_of.get(d[0])) is None]


def live_observe(res, work, data_dir, oracle):
    drops = Drops(res)
    phases = res["phases"]
    missing = [m for p in phases for m in drops.missing(p)]
    wrong = checks.check_live(res["extra"]["input"], res["extra"]["table"])
    done = drops.committed(phases[0])
    fresh = [end - due for due, _, end, _, _, _ in done]
    span_s = (max(d[2] for d in done) - min(d[0] for d in done)) / 1000.0
    log(f"live_ingest: {len(done)} drops in {len(set(d[5] for d in done))} batches, "
        f"{len(missing)} uncommitted, {len(wrong)} wrong keys")
    return {
        "e2e": {"latency_p50_ms": median(fresh), "latency_p90_ms": pct(fresh, 90),
                "requests_per_s": len(done) / span_s, "rows_per_s": sum(d[3] for d in done) / span_s,
                "wall_s": span_s},
        "attempted": sum(len(p["drops"]) for p in phases) + 1,  # + the warm-up snapshot
        "failed": len(missing) + len(wrong),
        "headline": lambda p: [end - due for due, _, end, _, _, _ in drops.committed(p)],
        "drops": drops,
    }


# ---------------------------------------------------------------- nightly_batch

def nightly_observe(res, work, data_dir, oracle):
    passes = [p for ph in res["phases"] for p in ph["passes"]]
    single = res["extra"].get("single_core_pass")
    checked = passes + ([single] if single else [])
    failed = checks.check_nightly(work, data_dir, oracle, checked)
    (base,) = res["phases"][0]["passes"]
    stage_ms = [s["seconds"] * 1000.0 for s in base["stages"]] + [base["curation_ms"]]
    wall_s = base["wall_ms"] / 1000.0
    rows = sum(max(0, s["items"]) for s in base["stages"]) + base["curation_rows"]
    log(f"nightly_batch: pass {wall_s:.2f} s: "
        + ", ".join(f"{s['stage']} {s['seconds']:.2f}" for s in base["stages"])
        + f", curation {base['curation_ms'] / 1000:.2f} s")
    return {
        "e2e": {"latency_p50_ms": median(stage_ms), "latency_p90_ms": pct(stage_ms, 90),
                "requests_per_s": len(stage_ms) / wall_s, "rows_per_s": rows / wall_s, "wall_s": wall_s},
        "attempted": sum(len(p["stages"]) + 1 for p in checked), "failed": len(failed),
        "headline": lambda p: [x["wall_ms"] for x in p["passes"]],
    }


OBSERVE = {"api_mix": api_observe, "live_ingest": live_observe, "nightly_batch": nightly_observe}

# ---------------------------------------------------------------- traced run

def self_times(spans):
    """Span name -> total self time: duration minus the part of it that
    its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, float("-inf")
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo = max(c["start_ms"], reach)
            covered += max(0.0, c["end_ms"] - lo)
            reach = max(reach, c["end_ms"])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"]) - covered
    return out


def per_op(trace, group):
    """Stage and job counts summed per operation; `group` maps the
    recorded op id to the operation (None drops it)."""
    ops = {}
    keys = ("tasks", "input_rows", "input_bytes", "output_rows", "output_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "run_ms", "cpu_ms", "gc_ms", "scheduler_delay_ms")
    for st in trace["stages"]:
        op = group(st["op"])
        if op is None:
            continue
        o = ops.setdefault(op, dict({k: 0 for k in keys}, stages=0, jobs=0, scan_tasks=0, skew=[]))
        o["stages"] += 1
        if st["input_bytes"] > 0:
            o["scan_tasks"] += st["tasks"]
        for k in keys:
            o[k] += st[k]
        if st["shuffle_read_task_median"] > 0:
            o["skew"].append((st["shuffle_read_bytes"], st["shuffle_read_task_max"] / st["shuffle_read_task_median"]))
    for j in trace["jobs"]:
        op = group(j["op"])
        if op in ops:
            ops[op]["jobs"] += j["jobs"]
    return list(ops.values())


def plan_phases(trace, roots):
    """Planning-phase sums per root span; each executed query is
    attributed to the root span its planning started in."""
    out = {r["id"]: dict.fromkeys(("analysis_ms", "optimization_ms", "planning_ms", "codegen_stages"), 0)
           for r in roots}
    for q in trace["queries"]:
        r = next((r for r in roots if r["start_ms"] - 1 <= q["start_ms"] <= r["end_ms"] + 1), None)
        if r:
            for k in out[r["id"]]:
                out[r["id"]][k] += q[k]
    return list(out.values())


def layer_metrics(res, workload, cores, obs):
    traced = [p for p in res["phases"] if p["traced"]]
    trace = res["phases"][-1]["trace"]
    ex = res["extra"]
    # a layer that does no work in this workload reads 0
    m = dict.fromkeys((x["name"] for x in SPEC["per_layer"]), 0.0)
    if workload == "api_mix":
        ops = per_op(trace, lambda op: op if op.startswith("req:") else None)
        roots = [s for s in trace["spans"] if s["parent"] == -1]
        wall_ms = sum(p["wall_s"] for p in traced) * 1000.0
    elif workload == "nightly_batch":
        ops = per_op(trace, lambda op: op.split("/")[0] if op.startswith("pass:") else None)
        roots = [s for s in trace["spans"] if s["name"] == "nightly.pass"]
        wall_ms = sum(x["wall_ms"] for p in traced for x in p["passes"])
    else:
        ops = per_op(trace, lambda op: op if op.startswith("batch:") else None)
        prog = [p for p in trace["progress"] if p["numInputRows"] > 0]
        roots = [{"id": i, "start_ms": checks.epoch_ms(p["timestamp"]),
                  "end_ms": checks.epoch_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]}
                 for i, p in enumerate(prog)]
        wall_ms = sum(p["wall_s"] for p in traced) * 1000.0

    def per(k, scale=1.0):
        return sum(o[k] for o in ops) / max(1, len(ops)) / scale

    phases = plan_phases(trace, roots)
    m.update({
        "sources.scan_tasks": per("scan_tasks"), "sources.input_rows": per("input_rows"),
        "sources.input_mb": per("input_bytes", MB),
        "plans.analysis_ms": mean([p["analysis_ms"] for p in phases]),
        "plans.optimization_ms": mean([p["optimization_ms"] for p in phases]),
        "plans.planning_ms": mean([p["planning_ms"] for p in phases]),
        "plans.jobs_per_op": per("jobs"), "plans.codegen_stages": mean([p["codegen_stages"] for p in phases]),
        "operators.stages_per_op": per("stages"), "operators.shuffle_write_mb": per("shuffle_write_bytes", MB),
        "operators.shuffle_read_mb": per("shuffle_read_bytes", MB), "operators.spill_mb": per("spill_bytes", MB),
        "operators.shuffle_skew": median([max(o["skew"])[1] for o in ops if o["skew"]]),
        "exec.task_ms": per("run_ms"), "exec.cpu_ms": per("cpu_ms"), "exec.gc_ms": per("gc_ms"),
        "exec.scheduler_delay_ms": per("scheduler_delay_ms"),
        "exec.core_busy_ratio": sum(o["run_ms"] for o in ops) / (cores * wall_ms),
    })

    if workload == "live_ingest":
        dur = lambda k: median([p["durationMs"].get(k, 0) for p in prog])  # noqa: E731
        done = [d for p in traced for d in obs["drops"].committed(p)]
        state = prog[-1]["stateOperators"][0] if prog and prog[-1]["stateOperators"] else {}
        m.update({
            "operators.merge_bytes_written_per_batch": per("output_bytes"),
            "operators.merge_write_amp": sum(o["output_bytes"] for o in ops) / sum(d[4] for d in done),
            "operators.merge_state_rows": median([o["output_rows"] for o in ops]),
            "operators.merge_state_files": float(ex["state_files"]),
            "functions.normalize_rows_per_s": ex["normalize_rows"] / median(ex["normalize_s"]),
            "streaming.batches": float(len(prog)),
            "streaming.rows_per_batch": mean([p["numInputRows"] for p in prog]),
            "streaming.trigger_ms": dur("triggerExecution"), "streaming.add_batch_ms": dur("addBatch"),
            "streaming.latest_offset_ms": dur("latestOffset"), "streaming.wal_ms": dur("walCommit"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.queue_wait_ms": median([start - due for due, start, _, _, _, _ in done]),
            "streaming.dedup_state_rows": float(state.get("numRowsTotal", 0)),
            "streaming.state_mb": state.get("memoryUsedBytes", 0) / MB,
            "gen.lag_ms_max": float(max(d[2] - d[1] for p in res["phases"] for d in p["drops"])),
        })
    if workload == "nightly_batch":
        (tp,) = traced[0]["passes"]
        stage_s = {s["stage"]: s["seconds"] for s in tp["stages"]}
        warm = median([x["wall_ms"] for p in res["phases"][1:] if not p["traced"] for x in p["passes"]])
        m.update({
            "apps.model_update_s": stage_s["model_update"], "apps.top_performers_s": stage_s["top_performers"],
            "apps.transfer_analysis_s": stage_s["transfer_analysis"],
            "apps.weekly_summary_s": stage_s["weekly_summary"],
            "scale.curation_s": tp["curation_ms"] / 1000.0,
            "scale.near_dup_s": ex["near_dup_ms"] / 1000.0,
            "scale.contamination_s": ex["contamination_ms"] / 1000.0,
            "exec.parallel_speedup": ex["single_core_pass"]["wall_ms"] / warm,
        })

    # Tracing cost: the traced phase's median headline time against the
    # mean of the untraced phases' medians (nightly_batch: the warm pass,
    # not the cold one).
    untraced = [p for p in res["phases"][1 if workload == "nightly_batch" else 0:] if not p["traced"]]
    base = mean([median(obs["headline"](p)) for p in untraced])
    m["trace_overhead_pct"] = (median(obs["headline"](traced[0])) / base - 1.0) * 100.0
    log("headline medians by phase: " + ", ".join(
        f"{'traced' if p['traced'] else 'untraced'} {median(obs['headline'](p)):.0f}" for p in res["phases"]))
    for name, ms in sorted(self_times(trace["spans"]).items(), key=lambda x: -x[1]):
        log(f"  self time {name}: {ms:.0f} ms")
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(OBSERVE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a termination signal unwinds through the finally blocks below, which
    # stop the JVM and delete the run's scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build.build()
    cores = os.cpu_count() or 1
    os.makedirs(build.OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=build.OUT)
    try:
        data_dir = f"{work}/data"
        t0 = time.time()
        if a.workload == "api_mix":
            plan = {"requests": datagen.api_plan(a.seed), "block": datagen.BLOCK_LOOKUPS + datagen.BLOCK_BOARDS}
        elif a.workload == "live_ingest":
            plan = datagen.live_plan(a.seed, a.seconds)
        else:
            plan = {}
        if a.workload != "live_ingest":
            datagen.write_tables(a.seed, data_dir)
        with open(f"{work}/plan.json", "w") as f:
            json.dump(plan, f)
        log(f"inputs for seed {a.seed} generated in {time.time() - t0:.1f} s")

        res = run_jvm(cp, work, a.workload, data_dir, a.seconds, a.trace, cores)
        with open(f"{work}/oracle.json") as f:
            oracle = json.load(f)
        obs = OBSERVE[a.workload](res, work, data_dir, oracle)
        attempted, failed = obs["attempted"], obs["failed"]
        log("set-ups: " + ", ".join(f"{s:.2f}" for s in res["setup_s"]) + f" s; {failed}/{attempted} "
            "operations failed")

        units = {m["name"]: m["unit"] for key in ("end_to_end", "per_layer") for m in SPEC[key]}
        if a.trace:
            metrics = layer_metrics(res, a.workload, cores, obs)
            names = [m["name"] for m in SPEC["per_layer"]]
        else:
            metrics = dict(obs["e2e"], setup_s=median(res["setup_s"]), peak_rss_mb=res["peak_rss_mb"],
                           ok_ratio=(attempted - failed) / attempted)
            names = [m["name"] for m in SPEC["end_to_end"]]
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in names}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

if __name__ == "__main__":
    main()
