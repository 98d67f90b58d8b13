"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py, once per workload and
seed), launches the measured JVM directly with a fresh java.io.tmpdir
and Spark local dir, checks the program's outputs, and prints one JSON
line last: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. Exits 1 when a correctness check fails. Everything it
writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SF = os.path.join(HERE, "data", "sf0.01")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

MB = 1 << 20
# corpus bytes, split bytes, set-ups per run, untimed warm-up units
WORKLOADS = {
    "mr_skewed": {"corpus": 16 * MB, "split": 16 * MB // 6 + 1, "setups": 3},
    "mr_unique": {"corpus": 8 * MB, "split": 8 * MB // 6 + 1, "setups": 3},
    "query_mix": {"setups": 1, "warm": 1},
    "index_churn": {"setups": 1},
}
# ops that group others: a query pass, a churn round
GROUPS = ("pass", "round")
JVM_TIMEOUT_S = 170
# Spark local[N]: one core is left to the driver thread, JIT and GC; at
# local[nproc] they contend with the tasks and job times spread 3x wider
CORES = max(1, min(3, (os.cpu_count() or 2) - 1))
QUERY_ROWS = 17


def inputs_for(workload, seed):
    """The workload's generated inputs, made once per (workload, seed);
    older seeds' inputs of the same workload are removed."""
    base = os.path.join(BUILD, "inputs")
    d = os.path.join(base, f"{workload}-{seed}")
    meta = os.path.join(d, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return d, json.load(f)
    os.makedirs(base, exist_ok=True)
    for old in os.listdir(base):
        if old.startswith(workload + "-"):
            shutil.rmtree(os.path.join(base, old))
    import gen
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    w = WORKLOADS[workload]
    if workload == "mr_skewed":
        m = gen.mr_skewed(seed, tmp, w["corpus"])
    elif workload == "mr_unique":
        m = gen.mr_unique(seed, tmp, w["corpus"])
    elif workload == "index_churn":
        m = gen.index_churn(seed, tmp, SF)
    else:
        m = {}
    m["seed"] = seed
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(m, f)
    os.rename(tmp, d)
    return d, m


def run_jvm(build_dir, args, run_dir):
    cmd = build.java_cmd(build_dir, os.path.join(run_dir, "tmp")) + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -1
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness JVM exited with {rc}")


# ---- correctness checks run here ----------------------------------------

def check_mr(res, inputs):
    """The final job's output must equal the generator's tally exactly."""
    want = {}
    with open(os.path.join(inputs, "tally.tsv")) as f:
        for line in f:
            w, c = line.rstrip("\n").split("\t")
            want[w] = c
    got = {}
    out = res["output_dir"]
    for name in sorted(os.listdir(out)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(out, name)) as f:
            for tok in f.read().split(" "):
                if tok:
                    k, v = tok.rsplit("|", 1)
                    if k in got:
                        return False, f"key {k} written twice", len(got)
                    got[k] = v
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        return False, f"output differs from tally, e.g. {diff}", len(got)
    return True, f"{len(got)} records equal the tally", len(got)


def check_oracle(res):
    """Every query row's Verify output against its DuckDB oracle, with the
    repository's own checker."""
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"), SF,
         res["verify_dir"]],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        cwd=ROOT)
    fails = [line for line in r.stdout.splitlines() if line.startswith("FAIL")]
    passes = [line for line in r.stdout.splitlines() if line.startswith("PASS")]
    ok = r.returncode == 0 and not fails and len(passes) == QUERY_ROWS
    tail = r.stdout.strip().splitlines()[-1:] or ["no output"]
    return ok, "; ".join(fails[:5] + tail)


# ---- metrics --------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def unit_kind(workload):
    return {"query_mix": "pass", "index_churn": "round"}.get(workload, "job")


def tail(xs):
    """The highest percentile with at least 10 samples beyond it."""
    n = len(xs)
    if n < 11:
        return max(xs) if xs else 0.0, 100.0, n
    pct = 100.0 * (n - 10) / n
    return sorted(xs)[n - 11], pct, n


# units of the info line's metrics: the issue's workload-specific
# end-to-end metrics, which not every workload can report
INFO_UNITS = {
    "error_rate": "ratio", "peak_rss_mb": "MB", "job_p50_s": "s",
    "throughput_mb_s": "MB/s", "queries_per_s": "1/s", "query_p50_s": "s",
    "query_tail_s": "s", "query_tail_pct": "%", "query_samples": "count",
    "index_ops_per_min": "1/min", "upsert_p50_s": "s", "delete_p50_s": "s",
    "probe_p50_s": "s",
}


def end_to_end(workload, res):
    ops = [o for o in res["ops"] if not o["traced"]]
    units = [o["s"] for o in ops if o["kind"] == unit_kind(workload)]
    counted = [o for o in ops if o["kind"] not in GROUPS]
    window = res["window_s"]
    metrics = {
        "setup_s": (median(res["setup_s"]), "s"),
        "op_p50_s": (median(units), "s"),
        "ops_per_min": (60.0 * len(counted) / window, "1/min"),
    }
    info = {"error_rate": sum(not o["ok"] for o in counted) / max(1, len(counted)),
            "peak_rss_mb": res["peak_rss_mb"],
            "setups_s": res["setup_s"], "prepare_s": res["prepare_s"],
            "window_s": window, "gate_s": res["gate_s"], "units": res["units"]}
    if workload.startswith("mr_"):
        info["job_p50_s"] = median(units)
        info["throughput_mb_s"] = (res["input_bytes"] / MB) * len(units) / window
    elif workload == "query_mix":
        qs = [o["s"] for o in counted]
        t, pct, n = tail(qs)
        info.update(queries_per_s=len(qs) / window, query_p50_s=median(qs),
                    query_tail_s=t, query_tail_pct=pct, query_samples=n)
    else:
        by = lambda *ks: [o["s"] for o in counted if o["kind"] in ks]
        info.update(index_ops_per_min=60.0 * len(counted) / window,
                    upsert_p50_s=median(by("ivf_upsert")),
                    delete_p50_s=median(by("ivf_delete")),
                    probe_p50_s=median(by("ivf_probe")))
    return metrics, info


LAYER_UNITS = {}  # filled from BENCHMARK.json's per_layer list


def per_layer(workload, res, meta, output_records):
    """Layer metrics from the traced samples. A layer the workload does
    not reach reports 0."""
    m = {name: 0.0 for name in LAYER_UNITS}
    traced = [o for o in res["ops"] if o["traced"] and "stats" in o]

    def of(*kinds):
        return [o for o in traced if o["kind"] in kinds]

    def med(os_, f):
        return median([f(o) for o in os_])

    def mean(os_, f):
        return statistics.fmean([f(o) for o in os_]) if os_ else 0.0

    st = lambda key: (lambda o: o["stats"][key])
    # driver / planning and executor, over every traced op
    if traced:
        m["driver.plan_s"] = mean(traced, st("plan_s"))
        m["driver.gap_s"] = mean(traced, lambda o: max(0.0, o["s"] - o["stats"]["job_s"]))
        m["driver.jobs"] = mean(traced, st("jobs"))
        m["driver.stages"] = mean(traced, st("stages"))
        m["driver.tasks"] = mean(traced, st("tasks"))
        m["exec.cpu_s"] = mean(traced, st("cpu_s"))
        m["exec.gc_s"] = mean(traced, st("gc_s"))
    # tracing overhead: traced over plain time of the same op, paired
    pairs = {}
    for o in res["ops"]:
        if o["pair"] >= 0:
            pairs.setdefault(o["pair"], {})[o["traced"]] = o["s"]
    ratios = [p[True] / p[False] for p in pairs.values()
              if True in p and False in p and p[False] > 0]
    m["exec.peak_rss_mb"] = res["peak_rss_mb"]
    m["trace.overhead_pct"] = 100.0 * (median(ratios) - 1.0) if ratios else 0.0
    if workload.startswith("mr_"):
        scan, trans, job = of("scan"), of("transform"), of("job")
        plain_jobs = [o["s"] for o in res["ops"] if o["kind"] == "job" and not o["traced"]]
        tokens = med(scan, lambda o: o["value"])
        m["sources.scan_s"] = med(scan, lambda o: o["s"])
        m["sources.tokens"] = tokens
        m["sources.input_bytes"] = med(scan, st("input_bytes"))
        m["sources.splits"] = med(scan, st("tasks"))
        m["core.map_stage_s"] = med(job, st("map_stage_s"))
        m["core.reduce_stage_s"] = med(job, st("result_stage_s"))
        m["core.shuffle_write_records"] = med(job, st("shuffle_write_records"))
        m["core.shuffle_write_bytes"] = med(job, st("shuffle_write_bytes"))
        m["core.shuffle_read_bytes"] = med(job, st("shuffle_read_bytes"))
        m["core.spill_bytes"] = med(job, st("spill_bytes"))
        m["core.combine_ratio"] = (m["core.shuffle_write_records"] / tokens
                                   if tokens else 0.0)
        m["core.write_s"] = max(0.0, med(job, lambda o: o["s"]) - med(trans, lambda o: o["s"]))
        m["core.output_records"] = float(output_records)
        m["core.throughput_mb_s"] = (res["input_bytes"] / MB / median(plain_jobs)
                                     if plain_jobs else 0.0)
    if workload == "query_mix":
        qs = of("query")
        for row in {o["name"] for o in qs}:
            m[f"query.{row}_s"] = med([o for o in qs if o["name"] == row],
                                      lambda o: o["s"])
        m["query.tail_s"] = tail([o["s"] for o in qs])[0]
        m["index.text_probe_s"] = m.get("query.tx_bm25_probe_s", 0.0)
        m["index.ivf_probe_s"] = m.get("query.ss_ivf_probe_s", 0.0)
        streams = [o for o in qs if o["stats"]["streams"] > 0]
        if streams:
            m["streaming.batches"] = mean(streams, st("batches"))
            m["streaming.batch_p50_s"] = median(
                [b / 1e3 for o in streams for b in o["stats"]["batch_ms"]])
            m["streaming.start_s"] = mean(
                streams, lambda o: o["s"] - sum(o["stats"]["batch_ms"]) / 1e3)
    if workload == "index_churn":
        for k in ("ivf_upsert", "ivf_delete", "ivf_probe"):
            m[f"index.{k}_s"] = med(of(k), lambda o: o["s"])
        writes = of("ivf_upsert", "ivf_delete")
        m["index.jobs_per_write"] = mean(writes, st("jobs"))
        wall = sum(o["s"] for o in writes)
        m["index.gap_share"] = (sum(max(0.0, o["s"] - o["stats"]["job_s"])
                                    for o in writes) / wall) if wall else 0.0
        user = 0
        for r in range(res["rounds"]):
            rd = os.path.join(meta["dir"], f"round{r}")
            user += sum(os.path.getsize(os.path.join(rd, f)) for f in os.listdir(rd))
        m["index.bytes_written_per_user_byte"] = (
            sum(o["stats"]["output_bytes"] for o in writes) / user if user else 0.0)
    if "index" in res:
        idx = res["index"]
        m["index.files"] = float(idx["files"])
        m["index.bytes_per_live_row"] = idx["bytes"] / max(1, idx["live_rows"])
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    LAYER_UNITS.update({m["name"]: m["unit"] for m in bench["per_layer"]})
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}

    t0 = time.time()
    classes = build.build()
    t1 = time.time()
    inputs, meta = inputs_for(a.workload, a.seed)
    t2 = time.time()
    meta["dir"] = inputs
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    try:
        out = os.path.join(run_dir, "result.json")
        w = WORKLOADS[a.workload]
        run_jvm(classes, [
            "--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--seed", str(a.seed), "--inputs", inputs,
            "--sf", SF, "--run", run_dir, "--out", out,
            "--cores", str(CORES),
            "--setups", str(w["setups"]), "--split", str(w.get("split", 0)),
            "--warm", str(w.get("warm", 0)),
        ], run_dir)
        t3 = time.time()
        with open(out) as f:
            res = json.load(f)
        ok, detail = res["gate"]["ok"], res["gate"]["detail"]
        records = 0
        if a.workload.startswith("mr_") and ok:
            ok, detail, records = check_mr(res, inputs)
        elif a.workload == "query_mix":
            ok, detail = check_oracle(res)
        # the raw samples (and, traced, the spans) of the last run of
        # each workload and seed stay for inspection
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results",
                               f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(res, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    t4 = time.time()
    sys.stderr.write(f"perfbench: build {t1-t0:.1f}s inputs {t2-t1:.1f}s "
                     f"jvm {t3-t2:.1f}s checks {t4-t3:.1f}s\n")
    counted = [o for o in res["ops"] if o["kind"] not in GROUPS]
    failed = sum(not o["ok"] for o in counted)
    e2e, info = end_to_end(a.workload, res)
    if a.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in per_layer(a.workload, res, meta, records).items()}
    else:
        metrics = {k: {"value": v, "unit": e2e_units[k]} for k, (v, _) in e2e.items()}
    info.update(gate=detail, errors=res["errors"][:5])
    print(json.dumps({"info": {k: {"value": v, "unit": INFO_UNITS[k]} if k in INFO_UNITS
                               else v for k, v in info.items()}}))
    correct = bool(ok) and failed == 0
    print(json.dumps({"correct": correct, "attempted": len(counted),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    t0 = time.time()
    rc = main()
    sys.stderr.write(f"perfbench: {time.time() - t0:.1f}s\n")
    sys.exit(rc)
