#!/usr/bin/env python3
"""graftbench: the repository benchmark for graft.

Usage (from the root of a checkout):

    python3 graftbench/run.py --workload gate_sweep --seed 1 --seconds 40 --trace 0

Builds the library from `src/main/scala` and the harness from
`graftbench/harness` with the Scala compiler shipped in the Spark jars
(cached under `.bench_build/classes-<source hash>`), then runs one
workload: three set-ups (JVM start to session ready; two set-up-only JVMs
and the measured one), a cold pass, `Pipeline.reset()` and a warm pass in the
measured JVM. Every gate's output is checked against `golden.json`.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`). With `--trace 1` the span file goes to
`.bench_build/spans/<workload>-seed<seed>.jsonl`. See README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH, "data", "sf0.1")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
CORES = 4
XMX = "6g"
SETUPS = 3          # set-up samples per run, the measured JVM included
DEADLINE_S = 170    # a run that is not done by then is killed and fails

# Memo accessors (Pipeline.*) each workload builds before its gates, and
# its gates: a fixed list, or strata from each of which the seed draws one.
WORKLOADS = {
    # a reader of each memo family, one streaming replay and one banded
    # distance join, then gates of 0.4 to 0.85 s warm: pairs whose members
    # have the same warm cost in these passes on 4 cores, and single gates
    # that make the middle of the cost profile dense, so gate_p50_s
    # averages several gates; every seed runs the same cost profile
    "gate_sweep": {
        "clients": 1,
        "memos": ["staypointsWithLocation", "minhashPairs", "classifierWeights4"],
        "strata": [
            ["location_diversity"],
            ["dedup_prune"],
            ["classifier_train"],
            ["streaming_dedup"],
            ["spatial_join_outer", "spatial_join_right"],
            ["q14_promo", "gap_histogram"],
            ["conversion_latency", "linestring_length"],
            ["q13_orderdist", "jump_length_fit"],
            ["q19_disjunct"],
            ["mobility_motifs"],
            ["event_rate_anomalies"],
            ["mmr_rerank"],
            ["cms_word_counts", "score_joint_deciles"],
            ["min_k_prob", "knn_confusion"],
            ["pmi_collocations"],
        ],
    },
    # connected components (a round loop) and transitivity (triangle
    # counting) over the pair table, and the CPU-bound inter-contact
    # window sort over the meeting table, in this order: a gate run after
    # that sort is slower, so a seeded order would move gate_p50_s
    "contact_graph": {
        "clients": 1,
        "memos": ["colocationMeetings", "colocationPairs"],
        "gates": ["colocation_components", "colocation_transitivity", "intercontact_times"],
    },
}

JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

LAYER_UNITS = {
    "pipeline.phase_s": "s", "pipeline.call_s": "s", "pipeline.hit_s": "s",
    "pipeline.block_mb": "MB", "sparkentry.construct_s": "s", "catalyst.plan_s": "s",
    "plans.banded_join_fired": "count", "codegen.compile_s": "s", "codegen.compiles": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.util": "ratio", "gc.s": "s",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "storage.input_mb": "MB",
    "storage.spill_mb": "MB", "streaming.batches": "count", "streaming.rows": "count",
    "streaming.trigger_s": "s", "streaming.commit_s": "s", "streaming.state_rows": "count",
    "streaming.state_mb": "MB"}

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "gate_p50_s": "s",
             "gate_p90_s": "s", "live_heap_mb": "MB"}


def die(msg, code=1):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_golden():
    with open(os.path.join(BENCH, "golden.json")) as f:
        return json.load(f)["gates"]


# ---- sampling ---------------------------------------------------------

def gate_plan(workload, seed):
    """The gate list of one run: the workload's fixed list in its order, or
    one gate drawn from each of its strata in a seeded order."""
    w = WORKLOADS[workload]
    if "gates" in w:
        return list(w["gates"])
    rng = random.Random(f"{workload}:{seed}")
    names = [rng.choice(s) for s in w["strata"]]
    rng.shuffle(names)
    return names


# ---- build ------------------------------------------------------------

def build(root):
    sources = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    if not sources:
        die("no program sources under src/main/scala: run from the root of a checkout")
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    h = hashlib.sha256()
    for p in sources + harness:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(SPARK_JARS))).encode())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "ok")):
            return out
        shutil.rmtree(out, ignore_errors=True)
        for name, srcs, cp in (("program", sources, None), ("harness", harness, "program")):
            dest = os.path.join(out, name)
            os.makedirs(dest)
            cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
                   "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
            if cp:
                cmd += ["-classpath", os.path.join(out, cp)]
            t0 = time.time()
            r = subprocess.run(cmd + srcs, capture_output=True, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
                die(f"compiling the {name} failed")
            print(f"graftbench: built {name} in {time.time() - t0:.1f} s", file=sys.stderr)
        open(os.path.join(out, "ok"), "w").close()
    return out


# ---- JVM runs ---------------------------------------------------------

class Runner:
    def __init__(self, root, classes, run_id, deadline):
        self.classes, self.run_id, self.deadline = classes, run_id, deadline
        self.dir = os.path.join(root, ".bench_build", "runs", run_id)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.n = 0

    def env(self):
        # pin the program's knobs: defaults everywhere, except that Replay's
        # checkpoints take the disk path under the run's own tmpdir instead
        # of /dev/shm, so a run writes only inside the checkout
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env["SPARK_GRAFT_REPLAY_NO_SHM"] = "1"
        return env

    def jvm(self, plan):
        """Run the harness once; returns (launch epoch ns, result dict)."""
        self.n += 1
        tag = f"{self.n}-{plan['mode']}"
        tmp = os.path.join(self.dir, tag + "-tmp")
        os.makedirs(tmp)
        plan = dict(plan, local_dir=tmp, out=os.path.join(self.dir, tag + ".json"),
                    cores=CORES, sf=DATA, run_id=self.run_id)
        plan_path = os.path.join(self.dir, tag + ".plan")
        with open(plan_path, "w") as f:
            f.writelines(f"{k} {v}\n" for k, v in plan.items())
        cp = os.pathsep.join([os.path.join(self.classes, "harness"),
                              os.path.join(self.classes, "program"),
                              os.path.join(SPARK_JARS, "*")])
        cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
               + ["-cp", cp, "org.apache.spark.graftbench.Harness", plan_path])
        log_path = os.path.join(self.dir, tag + ".log")
        with open(log_path, "w") as log:
            launched = time.time_ns()
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=tmp,
                                    env=self.env())
            try:
                code = proc.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"{tag} passed the {DEADLINE_S} s run deadline; log: {log_path}")
            except BaseException:
                # interrupted or terminated: never leave the JVM behind
                proc.kill()
                proc.wait()
                raise
        shutil.rmtree(tmp, ignore_errors=True)
        if code != 0:
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die(f"{tag} exited with {code}; log: {log_path}")
        with open(plan["out"]) as f:
            return launched, json.load(f)


# ---- metrics ----------------------------------------------------------

def quantile(xs, q):
    """Harrell-Davis estimate of quantile q of a non-empty sample: a
    Beta((n+1)q, (n+1)(1-q))-weighted mean of all order statistics. With
    the few gates of a pass, a single order statistic is one gate's
    latency and jumps with that gate's noise; the weighted mean does not.
    """
    s = sorted(xs)
    n = len(s)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def cdf(x, steps=2000):
        # regularized incomplete beta, by the midpoint rule
        if x <= 0.0 or x >= 1.0:
            return max(0.0, min(1.0, x))
        h = x / steps
        return h * sum(math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta)
                       for t in ((i + 0.5) * h for i in range(steps)))

    cuts = [cdf(i / n) for i in range(n + 1)]
    return sum((cuts[i + 1] - cuts[i]) * x for i, x in enumerate(s))


def check(result, golden):
    """Count attempted and failed operations; name every failure."""
    attempted, failures, nondet = 0, [], set()
    seen = {}
    for p in result["passes"]:
        for m in p["memos"]:
            attempted += 1
            if m["error"]:
                failures.append(f"{p['kind']} memo {m['name']}: {m['error']}")
        for g in p["gates"]:
            attempted += 1
            want = golden.get(g["name"], {})
            if g["error"]:
                failures.append(f"{p['kind']} gate {g['name']}: {g['error']}")
            elif g["rows"] != want.get("rows"):
                failures.append(f"{p['kind']} gate {g['name']}: {g['rows']} rows, "
                                f"golden {want.get('rows')}")
            elif want.get("deterministic", True) and g["hash"] != want.get("hash"):
                failures.append(f"{p['kind']} gate {g['name']}: digest {g['hash']}, "
                                f"golden {want.get('hash')}")
            if not g["error"]:
                if seen.setdefault(g["name"], g["hash"]) != g["hash"] or \
                        not want.get("deterministic", True):
                    nondet.add(g["name"])
    return attempted, failures, sorted(nondet)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # accepted and ignored: a run does the same fixed work at every value
    ap.add_argument("--seconds", type=int, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    classes = build(root)
    deadline = time.time() + DEADLINE_S
    golden = load_golden()
    w = WORKLOADS[args.workload]
    gates = gate_plan(args.workload, args.seed)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    runner = Runner(root, classes, run_id, deadline)

    setups = []
    for _ in range(SETUPS - 1):
        launched, r = runner.jvm({"mode": "setup", "trace": args.trace})
        setups.append((r["ready_epoch_ns"] - launched) / 1e9)
    spans = os.path.join(root, ".bench_build", "spans", f"{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    launched, r = runner.jvm({
        "mode": "run", "trace": args.trace, "clients": w["clients"],
        "memos": ",".join(w["memos"]), "gates": ",".join(gates), "spans": spans})
    setups.append((r["ready_epoch_ns"] - launched) / 1e9)
    shutil.rmtree(runner.dir, ignore_errors=True)
    detail = os.path.join(root, ".bench_build", "results", run_id + ".json")
    os.makedirs(os.path.dirname(detail), exist_ok=True)
    with open(detail, "w") as f:
        json.dump(dict(r, setup_samples_s=setups, gates=gates), f, indent=1)

    cold, warm = r["passes"][0], r["passes"][1]
    lat = [g["construct_s"] + g["action_s"] for g in warm["gates"] if not g["error"]] or [0.0]
    e2e = {
        "setup_s": statistics.median(setups),
        "cold_s": cold["wall_s"],
        "warm_s": warm["wall_s"],
        "gate_p50_s": quantile(lat, 0.5),
        "gate_p90_s": quantile(lat, 0.9),
        # the cold sample: same memo work on every seed, and no earlier pass
        # left generated classes or state behind
        "live_heap_mb": cold["live_mb"],
    }
    attempted, failures, nondet = check(r, golden)

    print(f"graftbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(w['memos'])} memos, {len(gates)} gates, {w['clients']} client(s)")
    print("env: " + json.dumps(dict(r["env"], xmx=XMX, cores=CORES)))
    for f in failures:
        print("FAILED " + f)
    if nondet:
        print("nondeterministic digests (reported, not failed): " + ", ".join(nondet))
    print(f"fail_frac {len(failures) / attempted:.4f} ({len(failures)} of {attempted})")
    if args.trace:
        metrics = {"session.build_s": (r["build_s"], "s")}
        for p in (cold, warm):
            for k, v in p["layers"].items():
                metrics[f"{k}.{p['kind']}"] = (v, LAYER_UNITS[k])
        for k, v in e2e.items():
            metrics["traced." + k] = (v, E2E_UNITS[k])
        print(f"spans: {os.path.relpath(spans, root)}")
    else:
        metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
    print(f"per-gate detail: {os.path.relpath(detail, root)}")
    for k, (v, u) in metrics.items():
        print(f"{k} {v:.6g} {u}")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
