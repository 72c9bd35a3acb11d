#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured end to end or traced.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness (perfbench/build.py), generates the inputs
from the seed (perfbench/datagen.py), runs the harness JVM
(perfbench/scala/graftbench/Main.scala) and compares the oracle lanes
against DuckDB with tools/check.py. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it carries
the details (seed, tail percentile and sample count, checks, errors).
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; the traced run also writes its spans and per-layer self
times to .bench_build/trace/.

Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import datagen  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD

# sf: scale factor handed to tools/gen_sf.py; input: tables whose rows
# count as the workload's input for rows_per_s; pass_s: the nominal length
# of one pass on 4 cores, so --seconds / pass_s passes are timed and every
# run of a workload times the same passes.
WORKLOADS = {
    "lanes_sf0.01": {"sf": 0.01, "input": None, "pass_s": 7.5},
    "cdc_sf0.05": {"sf": 0.05, "input": ["events"], "pass_s": 7.0},
}

# lanes whose build/exec split and job count are reported one by one
TRACKED_LANES = ["q52_rfm"]
MODULES = ["ops.Relational", "ops.Dedup", "ops.Similarity", "ops.TextAnalysis",
           "ops.Multimodal", "cdc.CdcQueries", "streaming.StreamingQueries"]
CDC_STAGES = ["envelope", "codec", "apply", "catchup", "snapwire", "stream_apply"]
GEN_REPEATS = 3
MAX_ERRORS = 8
JVM_TIMEOUT_S = 150
MB = 1 << 20


def tail(values):
    """Highest integer percentile with at least 10 samples beyond it, by
    nearest rank: (percentile, value, samples). Percentile is None when
    there are 10 samples or fewer."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= 10:
            return p, xs[rank - 1], n
    return None, (xs[-1] if xs else 0.0), n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def input_rows(data: Path, tables) -> int:
    import pyarrow.parquet as pq
    names = tables or [p.stem for p in data.glob("*.parquet")]
    return sum(pq.read_metadata(data / f"{t}.parquet").num_rows for t in names)


def oracle_failures(data: Path, check_dir: Path, lanes):
    """Lanes whose written result differs from DuckDB's, as tools/check.py
    reports them: {lane: reason}."""
    if not lanes:
        return {}
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(data),
                        str(check_dir)] + list(lanes),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=120)
    return parse_check_output(r.stdout, lanes)


def parse_check_output(text, lanes):
    passed = set()
    failed = {}
    for line in text.splitlines():
        if line.startswith("pass "):
            passed.add(line.split()[1])
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(":")
            failed[name] = why.strip()[:200]
    for lane in lanes:
        if lane not in passed and lane not in failed:
            failed[lane] = "no verdict from tools/check.py"
    return failed


def end_to_end(res, setup_s, rows):
    passes = [p for p in res["passes"] if not p["traced"]]
    lat = [op["s"] for p in passes for op in p["ops"] if op["ok"]]
    pct, tail_v, n = tail(lat)
    wall = median([p["wall_s"] for p in passes])
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "rows_per_s": (rows / wall if wall else 0.0, "1/s"),
        "cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    return metrics, {"op_tail_percentile": pct, "op_samples": n}


def verdict(res, checks):
    """(correct, attempted, failed, errors) over the timed passes. An op
    execution that raised, or whose result a failed check marks wrong,
    counts as failed; a failing op is never timed as a fast one."""
    measured = [op for p in res["passes"] for op in p["ops"]]
    wrong_ops = {c["op"] for c in checks if not c["ok"]}
    failed = sum(not op["ok"] or op["name"] in wrong_ops for op in measured)
    errors = {}
    for o in res["warmup"]["ops"] + measured:
        if not o["ok"] and len(errors) < MAX_ERRORS:
            errors.setdefault(o["name"], o["error"][:200])
    correct = failed == 0 and not errors and all(c["ok"] for c in checks)
    return correct, max(len(measured), 1), failed, errors


def _union_ms(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def per_layer(res):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    k = max(len(traced), 1)
    ops = [op for p in traced for op in p["ops"] if op["ok"]]
    zero = {"jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "peak_exec_mem_bytes": 0, "input_bytes": 0, "output_bytes": 0}

    def c(op, key):
        return op.get("counters", zero)[key]

    def total(sel, key, scale=1.0):
        return sum(c(op, key) for op in ops if sel(op)) / scale / k

    m = {}
    everything = lambda op: True  # noqa: E731
    for key, unit, scale in [("jobs", "count", 1), ("stages", "count", 1), ("tasks", "count", 1),
                             ("task_run_s", "s", 1), ("task_cpu_s", "s", 1),
                             ("shuffle_read_bytes", "MB", MB), ("shuffle_write_bytes", "MB", MB),
                             ("spill_bytes", "MB", MB), ("input_bytes", "MB", MB),
                             ("output_bytes", "MB", MB)]:
        name = key.replace("_bytes", "_mb")
        m[f"spark.{name}"] = (total(everything, key, scale), unit)
    m["spark.peak_exec_mem_mb"] = (max([c(op, "peak_exec_mem_bytes") for op in ops] or [0]) / MB, "MB")
    m["spark.busy_frac"] = (median([
        sum(c(op, "task_run_s") for op in p["ops"] if op["ok"]) / (p["wall_s"] * res["cores"])
        for p in traced]), "frac")

    for mod in MODULES:
        sel = lambda op, mod=mod: op["layer"] == mod  # noqa: E731
        for ph in ["build_s", "plan_s", "exec_s"]:
            m[f"{mod}.{ph}"] = (sum(op[ph] for op in ops if sel(op)) / k, "s")
        m[f"{mod}.jobs"] = (total(sel, "jobs"), "count")
        m[f"{mod}.task_cpu_s"] = (total(sel, "task_cpu_s"), "s")
        m[f"{mod}.shuffle_mb"] = (total(sel, "shuffle_write_bytes", MB), "MB")

    for lane in TRACKED_LANES:
        mine = [op for op in ops if op["name"] == lane]
        m[f"{lane}.build_s"] = (median([op["build_s"] for op in mine]), "s")
        m[f"{lane}.exec_s"] = (median([op["exec_s"] for op in mine]), "s")
        m[f"{lane}.jobs"] = (median([c(op, "jobs") for op in mine]), "count")

    for st in CDC_STAGES:
        mine = [op for op in ops if op["layer"] == f"cdc.{st}"]
        m[f"cdc.{st}.s"] = (median([op["s"] for op in mine]), "s")
        m[f"cdc.{st}.cpu_s"] = (median([c(op, "task_cpu_s") for op in mine]), "s")
        m[f"cdc.{st}.jobs"] = (median([c(op, "jobs") for op in mine]), "count")
        m[f"cdc.{st}.shuffle_mb"] = (median([c(op, "shuffle_write_bytes") for op in mine]) / MB, "MB")

    streaming = [op for op in ops if op.get("triggers")]
    trig = [t for op in streaming for t in op["triggers"]]
    nt = max(len(trig), 1)
    for key in ["trigger_s", "add_batch_s", "query_planning_s", "get_batch_s",
                "wal_commit_s", "commit_offsets_s"]:
        m[f"stream.{key}"] = (median([t[key] for t in trig]), "s")
    m["stream.rows_per_s"] = (median([t["rows_per_s"] for t in trig
                                      if not math.isnan(t["rows_per_s"])]), "1/s")
    m["stream.state_rows"] = (max([t["state_rows"] for t in trig] or [0]), "count")
    m["stream.state_mem_mb"] = (max([t["state_mem_bytes"] for t in trig] or [0]) / MB, "MB")
    m["stream.output_mb"] = (sum(c(op, "output_bytes") for op in streaming) / MB / nt, "MB")
    m["stream.jobs_per_trigger"] = (sum(c(op, "jobs") for op in streaming) / nt, "count")

    # self time per layer: pass → op → {build, plan, exec} → Spark job
    jobs = {}
    for j in res["jobs"]:
        jobs.setdefault(j["tag"], []).append((j["t0_ms"], j["t1_ms"]))
    self_ms = {"pass": 0.0, "build": 0.0, "plan": 0.0, "exec": 0.0, "job": 0.0}
    for p in traced:
        self_ms["pass"] += p["wall_s"] * 1000 - sum(op["s"] * 1000 for op in p["ops"])
        for op in p["ops"]:
            if not op["ok"]:
                continue
            js = jobs.get(op["tag"], [])
            bounds = {"build": (op["t0_ms"], op["t1_ms"]), "plan": (op["t1_ms"], op["t2_ms"]),
                      "exec": (op["t2_ms"], op["t3_ms"])}
            for ph, (lo, hi) in bounds.items():
                covered = _union_ms(js, lo, hi)
                self_ms[ph] += (hi - lo) - covered
                self_ms["job"] += covered
    for layer, v in self_ms.items():
        m[f"self.{layer}_s"] = (v / 1000 / k, "s")
    m["trace.overhead_s"] = (median([p["wall_s"] for p in traced]) -
                             median([p["wall_s"] for p in plain]), "s")
    return m


def write_trace(res, path: Path, meta):
    """Spans (workload → pass → op → phase → job) and per-layer self times."""
    spans = [{"id": "w", "parent": None, "name": res["workload"]}]
    for p in res["passes"]:
        if not p["traced"]:
            continue
        pid = f"p{p['pass']}"
        spans.append({"id": pid, "parent": "w", "name": f"pass {p['pass']}",
                      "t0_ms": p["t0_ms"], "t1_ms": p["t1_ms"]})
        for op in p["ops"]:
            spans.append({"id": op["tag"], "parent": pid, "name": op["name"],
                          "t0_ms": op["t0_ms"], "t1_ms": op.get("t3_ms"),
                          "counters": op.get("counters")})
            if op["ok"]:
                for ph, a, b in [("build", "t0_ms", "t1_ms"), ("plan", "t1_ms", "t2_ms"),
                                 ("exec", "t2_ms", "t3_ms")]:
                    spans.append({"id": f"{op['tag']}/{ph}", "parent": op["tag"],
                                  "name": ph, "t0_ms": op[a], "t1_ms": op[b]})
    for j in res["jobs"]:
        spans.append({"id": f"job{j['job']}", "parent": j["tag"], "name": f"job {j['job']}",
                      "t0_ms": j["t0_ms"], "t1_ms": j["t1_ms"]})
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({**meta, "spans": spans}, indent=1))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    wl = WORKLOADS[a.workload]

    passes = max(1, round(a.seconds / wl["pass_s"]))
    t_start = time.perf_counter()
    cp = build.build()
    t_built = time.perf_counter()
    run_dir = BUILD / "run" / a.workload
    data = run_dir / "data"
    check_dir = run_dir / "check"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)

    gen_s = []
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        datagen.generate(wl["sf"], a.seed, data)
        gen_s.append(time.perf_counter() - t)
    rows = input_rows(data, wl["input"])

    out = run_dir / f"harness-seed{a.seed}-trace{a.trace}.json"
    out.unlink(missing_ok=True)
    cmd = build.java(cp, "graftbench.Main",
                     ["--workload", a.workload, "--data", data, "--passes", passes,
                      "--trace", a.trace, "--check", check_dir, "--out", out], tmp, "1g")
    log = run_dir / f"harness-seed{a.seed}-trace{a.trace}.log"
    t_jvm = time.perf_counter()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness timed out after {JVM_TIMEOUT_S}s; see {log}")
    if rc != 0 or not out.exists():
        raise RuntimeError(f"harness exited {rc}; see {log}")
    res = json.loads(out.read_text())
    t_oracle = time.perf_counter()

    oracle_lanes = res["oracle_lanes"]
    oracle_bad = oracle_failures(data, check_dir, [lane for lane, _ in oracle_lanes])
    checks = res["checks"] + [
        {"name": f"{lane}_oracle", "ok": lane not in oracle_bad, "op": op,
         "detail": oracle_bad.get(lane, "pass")} for lane, op in oracle_lanes]

    correct, attempted, failed, errors = verdict(res, checks)
    t_end = time.perf_counter()

    warm_s = res["warmup"]["wall_s"]
    setup_s = median(gen_s) + res["session_s"] + res["workload_setup_s"] + warm_s
    e2e, tail_info = end_to_end(res, setup_s, rows)
    metrics = per_layer(res) if a.trace else e2e
    detail = {
        "workload": a.workload, "seed": a.seed, "sf": wl["sf"], "input_rows": rows,
        "cores": res["cores"], "passes": len(res["passes"]),
        "setup": {"gen_s": gen_s, "session_s": res["session_s"],
                  "workload_setup_s": res["workload_setup_s"], "warmup_s": warm_s},
        "run_s": {"build": t_built - t_start, "gen": t_jvm - t_built,
                  "harness": t_oracle - t_jvm, "oracle": t_end - t_oracle},
        **tail_info,
        "failed_checks": [c for c in checks if not c["ok"]][:MAX_ERRORS],
        "errors": errors,
    }
    if a.trace:
        tpath = BUILD / "trace" / f"{a.workload}-seed{a.seed}.json"
        write_trace(res, tpath, {"workload": a.workload, "seed": a.seed,
                                 "self_s": {k: v for k, (v, _) in metrics.items()
                                            if k.startswith("self.")},
                                 "trace_overhead_s": metrics["trace.overhead_s"][0]})
        detail["trace_file"] = str(tpath.relative_to(ROOT))
    print(json.dumps(detail))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line: the caller must see a failed run
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(1)
