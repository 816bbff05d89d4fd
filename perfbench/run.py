"""Repository benchmark: the indexer backfill with tx_from enrichment and
the two analytics bots, each run cold and fully consumed, with a separate
traced run that times each layer from outside.

    python3 perfbench/run.py --workload backfill_txfrom --seed 1 --seconds 40 --trace 0

Run from the repository root. The first run builds the program and the
harness (see build.py). Inputs are generated from --seed (see gen.py)
and cached under perfbench/.work. Every timed repetition is a fresh JVM
with a fresh session and fresh output directories. The last line of
standard output is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 runs as many cold repetitions of the workload as fit in
--seconds at their nominal length (at least one) and reports the medians
of the end-to-end metrics of BENCHMARK.json over them. --trace 1 runs one untraced and one
traced repetition and reports the per-layer metrics. A full artifact
(every repetition, run context, spans, per-query breakdown) is written
to perfbench/.work/artifacts and its path printed before the result.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORK = os.path.join(HERE, ".work")
WORKLOADS = ("backfill_txfrom", "bots")

# Input sizes per workload (see README.md for why they are this size).
TXFROM = dict(blocks=4000, contracts=3, txs=40)
BOT_DAYS = 2
# Fixed tables for FeeBot and the query sample: seed 42, this scale factor.
TABLES_SF = 0.01
TABLES_SEED = 42
# Declared queries the traced query sample never picks, with the reason.
EXCLUDED = {"q_evm_txfrom": "runs the attachTxFrom/ecrecover path backfill_txfrom "
                            "measures; about 45 min alone at sf0.1"}
FAMILIES = {"relational core": "relational", "time series": "series",
            "stateful FSM": "fsm", "training-data pipeline": "data",
            "EVM log pipeline": "evm", "ML surface": "ml"}

HEAP = "2g"
# Nominal length of one cold repetition on 4 cores. A run makes as many
# as fit in --seconds, at least one: a fixed count for a given --seconds,
# so every run of a workload takes the median over the same number.
REP_SECONDS = {"backfill_txfrom": 30, "bots": 40}
# A run's JVMs must all end this many seconds after its first one starts.
RUN_DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- inputs

def _cached(path, make):
    """Build `path` once with `make(path)`; a marker file records that
    the build finished, so an interrupted one is redone."""
    done = os.path.join(path, ".done")
    if not os.path.exists(done):
        make(path)
        open(done, "w").close()
    return path


def _prune(parent, keep):
    """Keep the `keep` most recently used generated inputs under `parent`."""
    if not os.path.isdir(parent):
        return
    dirs = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def _key(params):
    """Cache key of generated inputs: their parameters and the
    generators' own code."""
    h = hashlib.sha256(json.dumps(params).encode())
    for f in ("gen.py", "botref.py", "evmcrypto.py"):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:8]


def tables_dir():
    import gen
    name = f"sf{TABLES_SF}-seed{TABLES_SEED}-{_key([TABLES_SF, TABLES_SEED])}"
    return _cached(os.path.join(WORK, "tables", name),
                   lambda p: gen.tables(p, TABLES_SF, TABLES_SEED))


def query_families():
    """Declared query names with their family, from the registry's
    section comments in SparkEntry.scala."""
    src = open(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")).read()
    body = src[src.index("def queries"):]
    body = body[:body.index("\n  )\n")]
    fams, fam = {}, None
    for line in body.splitlines():
        m = re.match(r"\s*// ---- (.*) ----", line)
        if m:
            fam = next((v for k, v in FAMILIES.items() if m.group(1).startswith(k)), None)
        m = re.match(r'\s*"(q_\w+)"\s*->', line)
        if m:
            fams[m.group(1)] = fam
    return fams


def query_sample():
    """The traced run's SparkEntry sample, written fresh each run: the
    first declared query of each registry family, in sorted-name order."""
    fams = query_families()
    first = {}
    for n in sorted(fams):
        if n not in EXCLUDED:
            first.setdefault(fams[n], n)
    path = os.path.join(WORK, "query-sample.txt")
    with open(path, "w") as fh:
        fh.writelines(f"{n} {f}\n" for f, n in sorted(first.items()))
    return path


def inputs(workload, seed):
    import gen
    parent = os.path.join(WORK, "inputs", workload)
    params = {"backfill_txfrom": TXFROM, "bots": BOT_DAYS}[workload]
    path = os.path.join(parent, f"seed{seed}-{_key(params)}")

    def make(p):
        if workload == "backfill_txfrom":
            gen.log_dump(p, seed, TXFROM["blocks"], TXFROM["contracts"], n_txs=TXFROM["txs"])
        else:
            import botref
            gen.swaps(p, seed, BOT_DAYS)
            with open(os.path.join(p, "expected.json"), "w") as fh:
                json.dump(botref.expected(os.path.join(p, "swaps")), fh)
        gen.kernel_inputs(p, seed)

    _cached(path, make)
    os.utime(path)
    _prune(parent, keep=12)
    return path


# ---------------------------------------------------------------- reps

def cpu_probe_ms():
    """Fixed-work CPU probe: moves only with contention on this core."""
    t0 = time.perf_counter()
    s = 0
    for i in range(300000):
        s += i * i
    return (time.perf_counter() - t0) * 1e3


def local_n():
    """Spark's local[N]: one core is left to the JIT compiler threads, GC
    and the Spark driver, which a cold JVM keeps busy. Measured on 4 cores,
    cold backfill repetitions spread half as much at N=3 as at N=4 and
    were no slower."""
    return max(1, min(3, (os.cpu_count() or 1) - 1))


def launch(classes, workload, inp, trace, cpus, rep_id, deadline):
    """One cold repetition in a fresh JVM, killed at `deadline`; returns
    its parsed result and its output directory."""
    out = os.path.join(WORK, "runs", rep_id)
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    result = os.path.join(out, "result.json")
    # no hsperfdata file under the system temp dir: runs write only in the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in build.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + build.spark_jars(), "perfbench.Rep",
            "--workload", workload, "--input", inp, "--tables", tables_dir(),
            "--out", out, "--result", result, "--cpus", str(cpus),
            "--trace", str(trace), "--run", rep_id]
    if workload == "bots":
        cmd += ["--queries", query_sample()]
    ctx = {"load_before": os.getloadavg()[0], "cpu_probe_ms_before": cpu_probe_ms()}
    stderr = open(os.path.join(WORK, "last-jvm.log"), "w")
    t_launch = time.time()
    p = subprocess.Popen(cmd, cwd=out, stdout=subprocess.PIPE, stderr=stderr, text=True)
    try:
        stdout, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        stdout, _ = p.communicate()
    finally:
        stderr.close()
    ready = next((int(line.split()[1]) / 1e6 for line in stdout.splitlines()
                  if line.startswith("PERFBENCH_READY ")), None)
    res = {}
    if os.path.exists(result):
        with open(result) as fh:
            res = json.load(fh)
    if p.returncode != 0 or "error" in res or ready is None:
        res = {"error": res.get("error", f"jvm exit {p.returncode}")}
    else:
        res["setup_s"] = ready - t_launch
    ctx.update(load_after=os.getloadavg()[0], cpu_probe_ms_after=cpu_probe_ms())
    res["context"] = ctx
    return res, out


# ---------------------------------------------------------------- checks

def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= 1e-9 * max(abs(a), abs(b)) + 1e-12
    return a == b


def _rows_match(got, want):
    if len(got) != len(want):
        return False
    key = lambda r: json.dumps(r[:4])  # noqa: E731
    return all(len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
               for g, w in zip(sorted(got, key=key), sorted(want, key=key)))


def _canon(rows):
    """Order-independent digest of collected rows, doubles to 6 places."""
    def norm(v):
        return round(v, 6) + 0.0 if isinstance(v, float) else v
    lines = sorted(json.dumps([norm(v) for v in r]) for r in rows)
    return f"{len(lines)}:" + hashlib.sha256("\n".join(lines).encode()).hexdigest()


def load_pins():
    path = os.path.join(HERE, "pinned.json")
    return json.load(open(path)) if os.path.exists(path) else {}


def check(workload, res, inp, out, pins):
    """(attempted, failed, notes) for one repetition's results."""
    import csv
    if "error" in res:
        return 1, 1, [res["error"]]
    notes = []
    if workload == "backfill_txfrom":
        want = json.load(open(os.path.join(inp, "expected.json")))
        counts = res["extra"].get("counts", {})
        failed = 0
        for pair, rows in want.items():
            contract, event = pair.split("/")
            d = os.path.join(out, "sink", f"contract_name={contract}", f"event_name={event}")
            got = []
            for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
                if f.startswith("part-"):
                    res["sink_bytes"] = res.get("sink_bytes", 0) + \
                        os.path.getsize(os.path.join(d, f))
                    with open(os.path.join(d, f), newline="") as fh:
                        got += [json.dumps(r, sort_keys=True) for r in csv.DictReader(fh)]
            if sorted(got) != rows or counts.get(pair) != len(rows):
                failed += 1
                differ = sum(1 for g, w in zip(sorted(got), rows) if g != w)
                notes.append(f"{pair}: {len(got)} rows written, {counts.get(pair)} counted, "
                             f"{len(rows)} expected, {differ} differ from the generator's")
        return len(want), failed, notes
    got = {o["name"]: o["collected"] for o in res["ops"] if o.get("collected") is not None}
    if "meanrev_trades" in res["extra"]:  # the traced run's mean-reversion layer call
        got["meanrev_trades"] = res["extra"]["meanrev_trades"]
    want = {k: v for k, v in json.load(open(os.path.join(inp, "expected.json"))).items()
            if k in got}
    failed = 0
    for name, rows in want.items():
        if not _rows_match(got[name], rows):
            failed += 1
            notes.append(f"{name}: {len(got[name])} rows, {len(rows)} expected; "
                         "they differ from the reference")
    checks = {"FeeBot.run": _canon(got["FeeBot.run"])}
    checks.update(res["extra"].get("query_digests", {}))
    for name, got in checks.items():
        if got != pins.get(name):
            failed += 1
            notes.append(f"{name}: digest {got} != pinned {pins.get(name)}")
    return len(want) + len(checks), failed, notes


# ---------------------------------------------------------------- metrics

def declared(kind):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def input_rows(workload, inp):
    """Input records one repetition consumes: dump lines for the indexer;
    swap CSV lines plus the events rows FeeBot reads for the bots."""
    m = json.load(open(os.path.join(inp, "manifest.json")))
    if workload == "backfill_txfrom":
        return m["logs"]
    t = json.load(open(os.path.join(tables_dir(), "manifest.json")))
    return m["csv_rows_read"] + t["rows"]["events"]


def workload_figures(workload, res, inp):
    """The workload-specific figures the artifact records beside the
    end-to-end metrics."""
    wall = res["wall_s"]
    if workload == "backfill_txfrom":
        events = sum(o["rows"] for o in res["ops"])
        return {"blocks_per_s": res["extra"]["blocks"] / wall, "events_per_s": events / wall,
                "sink_bytes_per_event": res.get("sink_bytes", 0) / max(1, events)}
    return {"ethbot_s": res["extra"]["ethbot_s"], "feebot_s": res["extra"]["feebot_s"]}


def pin():
    """Rewrite pinned.json from one traced `bots` repetition: the FeeBot
    result and the query sample's digests on the fixed tables. Pin only
    a program whose declared queries pass the DuckDB oracle gate on
    these tables (graft.Verify + scripts/check.py)."""
    classes = build.build()
    inp = inputs("bots", 0)
    res, out = launch(classes, "bots", inp, 1, local_n(), "pin",
                      time.time() + RUN_DEADLINE_S)
    shutil.rmtree(out, ignore_errors=True)
    if "error" in res:
        raise SystemExit(f"perfbench: pin run failed: {res['error']}")
    ops = {o["name"]: o for o in res["ops"]}
    pins = {"tables": f"sf{TABLES_SF}-seed{TABLES_SEED}",
            "FeeBot.run": _canon(ops["FeeBot.run"]["collected"])}
    pins.update(res["extra"]["query_digests"])
    with open(os.path.join(HERE, "pinned.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    if sys.argv[1:] == ["--pin"]:
        return pin()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as blog:
        classes = build.build(log=blog)
    cpus = local_n()
    inp = inputs(args.workload, args.seed)
    pins = load_pins()
    context = {"nproc": os.cpu_count(), "local_n": cpus, "heap": HEAP,
               "seed": args.seed, "workload": args.workload,
               "input_shape": json.load(open(os.path.join(inp, "manifest.json")))}
    if args.workload == "bots":
        context["tables_shape"] = json.load(open(os.path.join(tables_dir(), "manifest.json")))

    reps, attempted, failed, notes = [], 0, 0, []
    t0 = time.time()

    def one(trace):
        nonlocal attempted, failed
        res, out = launch(classes, args.workload, inp, trace, cpus,
                          f"{args.workload}-{args.seed}-{os.getpid()}-{len(reps)}",
                          t0 + RUN_DEADLINE_S)
        a, f, ns = check(args.workload, res, inp, out, pins)
        attempted, failed = attempted + a, failed + f
        notes.extend(ns)
        shutil.rmtree(out, ignore_errors=True)
        res["trace"] = trace
        reps.append(res)
        return res

    metrics = {}
    artifact = {"context": context, "reps": reps, "notes": notes}
    if args.trace == 0:
        for _ in range(max(1, int(args.seconds // REP_SECONDS[args.workload]))):
            if one(0).get("error"):
                break
        if all("error" not in r for r in reps):
            rows = input_rows(args.workload, inp)
            values = {"setup_s": [r["setup_s"] for r in reps],
                      "wall_s": [r["wall_s"] for r in reps],
                      "rows_per_s": [rows / r["wall_s"] for r in reps],
                      "retained_heap_mb": [r["retained_heap_mb"] for r in reps]}
            metrics = {k: {"value": statistics.median(values[k]), "unit": u}
                       for k, u in declared("end_to_end").items()}
            figures = [workload_figures(args.workload, r, inp) for r in reps]
            artifact["workload_figures"] = {
                k: statistics.median(f[k] for f in figures) for k in figures[0]}
            artifact["workload_figures"]["fail_share"] = failed / max(1, attempted)
    else:
        plain, traced = one(0), one(1)
        if "error" not in plain and "error" not in traced:
            layers = dict(traced["layers"])
            layers["session.build_s"] = traced["session_build_s"]
            layers["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in declared("per_layer").items()}
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    apath = os.path.join(WORK, "artifacts",
                         f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t0)}.json")
    with open(apath, "w") as fh:
        json.dump(artifact, fh, indent=1)
    for n in notes[:20]:
        log(f"check: {n}")
    print(f"artifact: {os.path.relpath(apath, ROOT)}")
    if "workload_figures" in artifact:
        print("workload figures: " + json.dumps(artifact["workload_figures"], sort_keys=True))
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
