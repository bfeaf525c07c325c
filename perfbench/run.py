#!/usr/bin/env python3
"""Benchmark of the nomenklatura-spark engine, run from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Workloads (see perfbench/README.md):
  xref_batch      batch dedupe over a seeded generated FtM corpus
  loop_increment  the incremental loop over the same generator's corpus
  suite_sf01      every SparkEntry query on an sf table directory
                  (needs --data DIR; not part of BENCHMARK.json)

The engine is built from the checkout's sources with sbt on first use
(the benchmark's Scala is added as an extra source directory); the
classpath is cached under .bench_build/ keyed by a hash of the sources.
The last line of standard output is one JSON object:
{"correct": .., "attempted": .., "failed": .., "metrics": {..}}.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen_corpus  # noqa: E402

# Generated corpus sizes: bases = distinct real-world things; with the
# generator's duplicate mix each base yields ~1.7 records, each record an
# Address entity, and ~3 in 10 companies an Ownership. The engine's
# per-operation floor (tens of Spark jobs, ~30 s for a cold xref
# iteration or a loop batch) dominates every size that fits: comparing
# two builds takes dozens of runs of each workload, and their total time
# binds long before the per-run time limit does. README.md has the
# sizing runs.
CORPUS = {
    "xref_batch": {"bases": 800, "batches": 0, "delta_share": 0.0},
    "loop_increment": {"bases": 200, "batches": 1, "delta_share": 0.15},
}
# The parallel collector grows the heap more evenly from run to run: the
# peak RSS of xref_batch spread 13% (IQR / median) over five seeds with G1
# and 5-7% with it. No perf-data file: the JVM would write it under /tmp.
JVM_OPTS = ["-XX:+UseParallelGC", "-XX:-UsePerfData"]
HEAP = {"xref_batch": "-Xmx2g", "loop_increment": "-Xmx2g",
        "suite_sf01": "-Xmx6g"}
# a run must end within 180 s of its start; the suite is run by hand
TIMEOUT_S = {"xref_batch": 170, "loop_increment": 170, "suite_sf01": 3600}

XREF_LAYERS = ["ingest", "blocker", "run", "resolve", "apply", "assemble"]
LOOP_STAGES = ["merge", "index", "xref", "decide", "apply", "maintain"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- stats

def summary(values):
    """Median, max and sample count; p90 only when at least ten samples
    lie beyond it (n >= 100), as a tail figure needs."""
    vals = sorted(values)
    out = {"n": len(vals)}
    if vals:
        out["p50"] = statistics.median(vals)
        out["max"] = vals[-1]
        if len(vals) >= 100:
            out["p90"] = statistics.quantiles(vals, n=10)[-1]
    return out


def median(values, default=0.0):
    return statistics.median(values) if values else default


# ---------------------------------------------------------------- build

def require_sources():
    for p in ("build.sbt", "project/build.properties", "src/main/scala",
              "perfbench/scala"):
        if not os.path.exists(os.path.join(ROOT, p)):
            log("missing %s: run from the root of a full checkout" % p)
            sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    files = []
    for top in ("build.sbt", "project", "src/main", "perfbench/scala"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            files.append(path)
            continue
        for d, dirs, names in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           "-Dsbt.repository.config=%s -Dsbt.offline=true "
                           "-Xmx2g" % repos)
    return env


def build():
    """Compile engine + benchmark once per source state; return
    (classpath, jvm options) from sbt."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "engine.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        # a plain `sbt compile` of the engine drops the benchmark's
        # classes from the shared output directory
        main = os.path.join("graft", "perfbench", "Main.class")
        if st.get("fingerprint") == fp and any(
                os.path.exists(os.path.join(d, main))
                for d in st["classpath"].split(os.pathsep)):
            return st["classpath"], st["java_options"]
    log("building engine and benchmark with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           'set Compile / unmanagedSourceDirectories += '
           'baseDirectory.value / "perfbench" / "scala"',
           "compile", "export Runtime / fullClasspath", "show javaOptions"]
    p = subprocess.run(cmd, cwd=ROOT, env=sbt_env(), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("sbt build failed")
        sys.exit(3)
    cp = [ln for ln in lines if "target" in ln and ".jar" in ln
          and not ln.startswith("[")]
    opts = [ln[len("[info] * "):].strip() for ln in lines
            if ln.startswith("[info] * ")]
    if not cp or not opts:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("could not read the classpath from sbt")
        sys.exit(3)
    java_opts = [o for o in opts if not o.startswith("-Xmx")]
    st = {"fingerprint": fp, "classpath": cp[-1].strip(),
          "java_options": java_opts}
    with open(stamp, "w") as f:
        json.dump(st, f)
    return st["classpath"], st["java_options"]


# ---------------------------------------------------------------- run

def run_jvm(workload, args, classpath, java_opts, work, t0):
    record = os.path.join(work, "record.json")
    env = dict(os.environ)
    env["GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    # these would override spark.local.dir with a directory outside the run
    env.pop("SPARK_LOCAL_DIRS", None)
    env.pop("LOCAL_DIRS", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", HEAP[workload]] + JVM_OPTS + java_opts +
           ["-Djava.io.tmpdir=" + tmp,
            # fresh build-once artifact roots for this run only
            "-Duser.name=" + os.path.basename(work),
            "-cp", classpath, "graft.perfbench.Main",
            "--work", work, "--out", record, "--t0", repr(t0)] + args)
    log_path = os.path.join(BUILD, "last-jvm.log")
    with open(log_path, "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=jlog,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, t0 + TIMEOUT_S[workload] - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log("benchmark JVM timed out; see %s" % log_path)
            return None
    if not os.path.exists(record):
        log("benchmark JVM wrote no record (exit %d); see %s"
            % (proc.returncode, log_path))
        return None
    with open(record) as f:
        return json.load(f)


def spans(rec, name, parents=None):
    """Spans of one name recorded with the listener on, optionally only
    those under the given parent span ids."""
    return [s for s in rec["spans"] if s["name"] == name
            and s.get("listening") and
            (parents is None or s["parent"] in parents)]


def e2e_metrics(rec):
    f = rec["facts"]
    kind = {"xref_batch": "iteration", "loop_increment": "batch"}
    ops = [o for o in rec["ops"] if o["kind"] == kind[rec["workload"]]]
    walls = [o["wall_s"] for o in ops]
    return {
        "setup_s": rec["first_op"] - rec["t0"],
        "peak_rss_mb": rec["peak_rss_mb"],
        "op_p50_s": median(walls),
        "stmts_per_s": (sum(o["rows"] for o in ops) / sum(walls)
                        if walls else 0.0),
        "pair_precision": f.get("pair_precision", 0.0),
        "pair_recall": f.get("pair_recall", 0.0),
    }


def layer(sp, prefix, fields):
    """Median over spans of each counter; a layer with no spans reads 0.
    A stage's wall is the one the engine's stage hook reported."""
    out = {}
    for k in fields:
        if k == "wall_s":
            vals = [s.get("engine_wall_s", s["wall_s"]) for s in sp]
        elif k == "shuffle_mb":
            vals = [s["shuffle_read_mb"] + s["shuffle_write_mb"] for s in sp]
        else:
            vals = [s[k] for s in sp]
        out["%s.%s" % (prefix, k)] = median(vals)
    return out


def per_layer_metrics(rec):
    """Every per-layer metric, on every workload: a layer the workload
    does not exercise reads 0."""
    f, ops = rec["facts"], rec["ops"]
    m = {}
    # xref layers: the xref_batch iterations, or the loop's from-scratch
    # runs (which have no ingest or assemble)
    its = {s["id"] for s in spans(rec, "xref.iteration")}
    fulls = {s["id"] for s in spans(rec, "xref.full", its)} | {
        s["id"] for s in spans(rec, "loop.full")}
    for name in XREF_LAYERS:
        parents = its if name in ("ingest", "assemble") else fulls
        sp = (spans(rec, "xref.blocker") if name == "blocker"
              else spans(rec, "xref." + name, parents))
        m.update(layer(sp, "xref." + name, ["wall_s", "jobs", "shuffle_mb"]))
    cand = f.get("candidate_pairs", 0)
    hits = f.get("candidate_true_pairs", 0)
    truth = f.get("truth_pairs", 0)
    m["xref.blocker.candidate_pairs"] = cand
    m["xref.blocker.true_pair_yield"] = hits / cand if cand else 0.0
    m["xref.blocker.recall_ceiling"] = hits / truth if cand and truth else 0.0
    m["xref.run.scored_pairs"] = f.get("scored_pairs", 0)
    m["xref.run.merges"] = f.get("merges", 0)

    batches = spans(rec, "loop.batch")
    bids = {s["id"] for s in batches}
    for st in LOOP_STAGES:
        m.update(layer(spans(rec, "loop." + st, bids), "loop." + st,
                       ["wall_s", "jobs", "cpu_s", "shuffle_mb"]))
    lake = spans(rec, "loop.lake")
    m["loop.lake.live_deltas"] = max(
        [s["live_deltas"] for s in lake], default=0)
    m["loop.lake.snapshot_s"] = median([s["snapshot_s"] for s in lake])
    rows = sum(s["rows"] for s in batches)
    written = sum(s["output_records"] for s in spans(rec, "loop.apply", bids))
    m["loop.batch_rows"] = median([s["rows"] for s in batches])
    m["loop.apply.write_rows_per_batch_row"] = written / rows if rows else 0.0
    full_on = [o["wall_s"] for o in ops if o["kind"] == "full"]
    m["loop.full_s"] = median(full_on)
    m["loop.batch_over_full"] = (
        median([s["wall_s"] for s in batches]) / median(full_on)
        if full_on and batches else 0.0)
    m["loop.state_mismatch_rows"] = f.get("state_mismatch_rows", 0)

    m["trace_overhead"] = f.get("trace_overhead", 0.0)
    return m


def load_manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--data", help="sf table directory (suite_sf01)")
    ap.add_argument("--capture-golden", action="store_true",
                    help="suite_sf01: write the digests as the golden file")
    ap.add_argument("--bases", type=int,
                    help="override the corpus size (sizing experiments)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    require_sources()
    if a.workload not in ("xref_batch", "loop_increment", "suite_sf01"):
        log("unknown workload %r" % a.workload)
        sys.exit(2)
    if a.workload == "suite_sf01" and not a.data:
        log("suite_sf01 needs --data <sf table directory>")
        sys.exit(2)
    classpath, java_opts = build()
    # set-up time starts after the build, which only the first run pays
    t0 = time.time()

    work = tempfile.mkdtemp(prefix="perfbench-%s-" % os.getpid(), dir=BUILD)
    load_before = os.getloadavg()
    try:
        args = ["--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        if a.workload == "suite_sf01":
            golden = os.path.join(HERE, "golden", "suite_sf01.json")
            args += ["--data", os.path.abspath(a.data)]
            if not a.capture_golden:
                args += ["--golden", golden]
        else:
            corpus = os.path.join(work, "corpus")
            size = CORPUS[a.workload]
            gen_corpus.write_corpus(corpus, a.seed, a.bases or size["bases"],
                                    size["batches"], size["delta_share"])
            args += ["--corpus", corpus]

        rec = run_jvm(a.workload, args, classpath, java_opts, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for k in ("blkidx", "refidx", "searchidx", "merge"):
            shutil.rmtree("/tmp/graft-%s-%s" % (k, os.path.basename(work)),
                          ignore_errors=True)
    if rec is None:
        sys.exit(4)
    rec["run"] = {"seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                  "nproc": os.cpu_count(), "loadavg_before": load_before,
                  "loadavg_after": os.getloadavg()}
    return report(a, rec)


def report(a, rec):
    checks = rec["checks"]
    bad = [c for c in checks if not c["ok"]]
    ops = rec["ops"]
    failed = sum(1 for o in ops if o.get("ok") is False)
    correct = rec.get("error") is None and not bad and not failed
    if not correct and not failed:
        failed = len(ops)  # a failed check or error voids every operation
    w = rec["workload"]
    manifest = load_manifest()
    if w == "suite_sf01":
        out = suite_report(a, rec)
    elif a.trace:
        units = {m["name"]: m["unit"] for m in manifest["per_layer"]}
        vals = per_layer_metrics(rec)
        out = {k: {"value": vals[k], "unit": u} for k, u in units.items()}
    else:
        vals = e2e_metrics(rec)
        units = {m["name"]: m["unit"] for m in manifest["end_to_end"]}
        out = {k: {"value": vals[k], "unit": u} for k, u in units.items()}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    path = os.path.join(BUILD, "records", "%s-seed%d-trace%d.json" % (
        w, a.seed, a.trace))
    with open(path, "w") as f:
        json.dump(rec, f)
    for c in bad:
        log("check failed: %s %s" % (c["name"], c["detail"]))
    kinds = sorted({o["kind"] for o in ops})
    for k in kinds:
        s = summary([o["wall_s"] for o in ops if o["kind"] == k])
        log("%s walls: %s" % (k, json.dumps(s, sort_keys=True)))
    log("facts: %s" % json.dumps({k: v for k, v in rec["facts"].items()
                                  if k != "digests"}, sort_keys=True))
    log("run: %s; record %s" % (json.dumps(rec["run"], sort_keys=True),
                               os.path.relpath(path, ROOT)))
    print(json.dumps({"correct": correct, "attempted": max(1, len(ops)),
                      "failed": max(failed, 0 if correct else 1),
                      "metrics": out}))
    return 0


def suite_report(a, rec):
    ops = [o for o in rec["ops"] if o["kind"] == "query"]
    passes = sorted({o["pass"] for o in ops})
    per_q = {}
    for o in ops:
        per_q.setdefault(o["query"], []).append(o["wall_s"])
    walls = [median(v) for v in per_q.values()]
    qs = sorted(walls)
    m = {
        "setup_s": {"value": rec["first_op"] - rec["t0"], "unit": "s"},
        "peak_rss_mb": {"value": rec["peak_rss_mb"], "unit": "MB"},
        "suite_total_s": {"value": sum(walls), "unit": "s"},
        "suite_query_p50_s": {"value": median(qs), "unit": "s"},
        # 137 queries: 13 lie beyond the p90
        "suite_query_p90_s": {"value": summary(qs).get("p90", max(qs)),
                              "unit": "s"},
    }
    ctrl = [s["wall_s"] for s in rec["spans"] if s["name"] == "suite.control"]
    drift = max(ctrl) / min(ctrl) if ctrl else 0.0
    if a.trace:
        qspans = [s for s in rec["spans"] if s["name"] == "suite.query"]
        for mod in sorted({s["module"] for s in qspans}):
            sp = [s for s in qspans if s["module"] == mod]
            n = max(1, len(passes))
            m["suite.%s.wall_s" % mod] = {"value": sum(
                s["wall_s"] for s in sp) / n, "unit": "s"}
            m["suite.%s.plan_s" % mod] = {"value": sum(
                s.get("plan_s", 0) for s in sp) / n, "unit": "s"}
            for k, u in (("jobs", "count"), ("cpu_s", "s")):
                m["suite.%s.%s" % (mod, k)] = {"value": sum(
                    s.get(k, 0) for s in sp) / n, "unit": u}
            m["suite.%s.shuffle_mb" % mod] = {"value": sum(
                s.get("shuffle_read_mb", 0) + s.get("shuffle_write_mb", 0)
                for s in sp) / n, "unit": "MB"}
        m["suite.spill_mb"] = {"value": sum(
            s.get("spill_mb", 0) for s in qspans) / max(1, len(passes)),
            "unit": "MB"}
    m["suite.control_drift"] = {"value": drift, "unit": "ratio"}
    if len(passes) >= 2:
        ratios = sorted(v[1] / v[0] for v in per_q.values() if v[0] > 0)
        q = statistics.quantiles(ratios, n=4)
        m["suite.pass_ratio_q1"] = {"value": q[0], "unit": "ratio"}
        m["suite.pass_ratio_q3"] = {"value": q[2], "unit": "ratio"}
    if a.capture_golden:
        golden = {n: d for n, d in rec["facts"]["digests"].items()
                  if "hash" in d}
        os.makedirs(os.path.join(HERE, "golden"), exist_ok=True)
        with open(os.path.join(HERE, "golden", "suite_sf01.json"), "w") as f:
            json.dump(golden, f, sort_keys=True, indent=1)
            f.write("\n")
        log("wrote %d golden digests" % len(golden))
    return m


# ---------------------------------------------------------------- selftest

def selftest():
    """Same seed → byte-identical corpus and truth; different seed →
    different files; the summary reports its sample count and only
    gives a p90 with ten samples beyond it."""
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=BUILD)
    try:
        dirs = []
        for i, seed in enumerate((7, 7, 8)):
            d = os.path.join(tmp, str(i))
            gen_corpus.write_corpus(d, seed, 300, 3, 0.2)
            dirs.append(d)

        def blob(d):
            return {n: open(os.path.join(d, n), "rb").read()
                    for n in sorted(os.listdir(d))}
        assert blob(dirs[0]) == blob(dirs[1]), "same seed, different files"
        assert blob(dirs[0]) != blob(dirs[2]), "seed does not matter"
        truth = json.load(open(os.path.join(dirs[0], "truth.json")))
        ids = set()
        for n in os.listdir(dirs[0]):
            if n.endswith(".ijson"):
                ids |= {json.loads(ln)["id"] for ln in open(
                    os.path.join(dirs[0], n))}
        assert all(i in ids for c in truth["clusters"] for i in c)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    s = summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "max": 3.0}, s
    rng = random.Random(0)
    big = [rng.random() for _ in range(100)]
    s = summary(big)
    assert s["n"] == 100 and "p90" in s, s
    assert summary(big[:99]).get("p90") is None
    assert summary([]) == {"n": 0}
    print(json.dumps({"selftest": "ok"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
