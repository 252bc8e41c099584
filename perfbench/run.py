#!/usr/bin/env python3
"""Crawl -> refresh -> search benchmark for file_dbspark.

Usage:
    python3 perfbench/run.py --workload {refresh,search} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the program's main
sources and the benchmark's Scala code with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Each run generates a seeded
directory tree under .perfbench_work/, catalogues it through the program's
public API in one JVM (perfbench.BenchMain), runs the workload, checks every
output against the tree's manifest and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones and
writes the spans to .perfbench_out/. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import treegen  # noqa: E402

PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_OUT = os.path.join(ROOT, ".perfbench_out")

WORKLOADS = ("refresh", "search")
SEARCH_OPS = [k for k, _ in treegen.SEARCH_MIX]
SEARCH_ARGS = 400      # operations drawn per run; a run uses whole blocks
SEARCH_MIN_BLOCKS = 2  # blocks of the mix (20 operations each) a run times, at least
REFRESH_STEPS = 6      # mutation batches drawn per run; a run uses a prefix
REFRESH_MIN_STEPS = 1  # refresh steps a run times, at least, after a warm-up step
RUN_LIMIT_S = 170      # the JVM is killed past this, and the run fails

JVM_OPENS = [  # as the root build passes them: Spark 4 on JDK 17
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# build

def source_digest():
    h = hashlib.sha256()
    tracked = [os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _subdirs, files in sorted(os.walk(top)):
            tracked += [os.path.join(d, f) for f in sorted(files)]
    for path in tracked:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars of the
    first spark-submit on PATH that sits in a distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark distribution; set SPARK_HOME")


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    # offline: every dependency comes from the local caches
    env = dict(os.environ, COURSIER_MODE="offline")
    flags = ["-Dsbt.offline=true", "-Dperfbench.sparkJars=" + spark_jars()]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        flags += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true"] + flags + ["compile"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL)
    if res.returncode != 0:
        raise SystemExit("perfbench: sbt build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    log("built in %.1f s" % (time.time() - t0))


# ---------------------------------------------------------------------------
# one run

def cores():
    return len(os.sched_getaffinity(0))


def start_jvm(work):
    """Start BenchMain; its session comes up while the tree is generated."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.BenchMain", work, str(cores())]
    return subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)


def finish_jvm(proc, inp, work, deadline):
    """Hand BenchMain its input, wait for it and return its output."""
    tmp_path = os.path.join(work, "input.json.tmp")
    with open(tmp_path, "w") as f:
        json.dump(inp, f)
    os.replace(tmp_path, os.path.join(work, "input.json"))
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: run exceeded %d s" % RUN_LIMIT_S)
    out_path = os.path.join(work, "output.json")
    if code != 0 or not os.path.exists(out_path):
        raise SystemExit("perfbench: BenchMain exited with %d" % code)
    with open(out_path) as f:
        out = json.load(f)
    for name in ("catalogue", "refreshed"):
        path = os.path.join(work, name + ".json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Checker:
    """Counts operations and failures; a failed operation's timing is never
    used."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, what, ok, detail=""):
        self.attempted += 1
        if not ok:
            self.failed += 1
            log("CHECK FAILED: %s %s" % (what, detail))
        return ok

    def op(self, rec, expect):
        got = rec.get("result")
        ok = "error" not in rec and got == expect
        detail = rec.get("error") or (
            "got %d rows, expected %d" % (len(got or []), len(expect)))
        return self.check("%s %s" % (rec.get("op"), rec.get("id", "")), ok, detail)


def files_match(rows, expect):
    """Catalogue rows [path, size MB, md5, sha1] against manifest entries
    path -> (bytes, md5, sha1). Every path exactly once, every field equal."""
    got = {}
    for path, size, md5, sha1 in rows:
        if path in got:
            return False, "duplicate row " + path
        got[path] = (size, md5, sha1)
    if set(got) != set(expect):
        missing = sorted(set(expect) - set(got))[:3]
        extra = sorted(set(got) - set(expect))[:3]
        return False, "missing %s extra %s" % (missing, extra)
    for path, (nbytes, md5, sha1) in expect.items():
        size, gmd5, gsha1 = got[path]
        if size is None or Decimal(size) != treegen.size_mb(nbytes) \
                or (gmd5, gsha1) != (md5, sha1):
            return False, "%s: %s != %s" % (path, got[path], (nbytes, md5, sha1))
    return True, ""


def run(args):
    started = time.time()
    deadline = started + RUN_LIMIT_S
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("perfbench: no program sources at %s; run from the "
                         "root of a file_dbspark checkout" % PROGRAM_SRC)
    build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S)  # a build starts the clock anew
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    proc = start_jvm(work)
    try:
        return measure(args, work, proc, deadline)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work, proc, deadline):
    tree = os.path.join(work, "tree")
    m = treegen.generate(args.seed, tree)
    inp = {
        "workload": args.workload, "seconds": args.seconds,
        "trace": bool(args.trace), "tree": tree,
        # every directory is a crawl root, so one crawl round catalogues the
        # tree (a discovery crawl takes a round per level; see README)
        "roots": sorted(m.dirs),
        "state": os.path.join(work, "state"),
        "trace_out": os.path.join(TRACE_OUT, "%s-%d.json" % (args.workload, args.seed)),
        "block": len(treegen.BLOCK), "min_blocks": SEARCH_MIN_BLOCKS,
        "min_steps": REFRESH_MIN_STEPS,
        "warm_probe": m.dup_groups[0][0],
        "ops": [], "probe_ops": [], "plan": [],
    }
    plan = manifests = None
    if args.workload == "search":
        inp["ops"] = treegen.search_args(args.seed, m, SEARCH_ARGS)
    else:
        plan, manifests = treegen.mutation_plan(
            args.seed, m, REFRESH_STEPS, os.path.join(work, "stage"))
        inp["plan"] = [{k: e[k] for k in ("subtree", "ops", "dup_probe")} for e in plan]
        if args.trace:  # per-layer numbers for every operation kind
            inp["probe_ops"] = treegen.search_args(
                args.seed, m, len(SEARCH_OPS), SEARCH_OPS)
    # flush the new files now, so that write-back does not run beside the
    # timed work
    os.sync()
    out = finish_jvm(proc, inp, work, deadline)
    log("heap after GC (MB): %s" % out["heap_mb"])
    for r in out["rounds"]:
        log("%s %s round: %.2f s (%s)" % (r["phase"], r["kind"], r["s"], ", ".join(
            "%s=%s" % (k, v) for k, v in r.items() if k not in ("phase", "kind", "s"))))

    chk = Checker()
    res = check_outputs(chk, out, inp, m, plan, manifests)
    if args.trace:
        kind, values = "per_layer", per_layer_values(out, m, res)
    else:
        kind, values = "end_to_end", end_to_end_values(out, res)
    units = metric_units(kind)
    if set(values) != set(units):
        raise SystemExit("perfbench: metrics %s differ from BENCHMARK.json's %s"
                         % (sorted(values), sorted(units)))
    return {"correct": chk.failed == 0, "attempted": chk.attempted,
            "failed": chk.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}


class Outcome:
    """What the checks leave for the metrics: the timings of operations that
    passed, the tree the run ended with, and how much of it changed."""

    def __init__(self, final):
        self.build_ok = False
        self.op_ms = []
        self.final = final
        self.changed_files = self.changed_dirs = self.useful_hashes = 0


def check_outputs(chk, out, inp, m, plan, manifests):
    res = Outcome(m)
    catalogue = out["catalogue"]
    ok, detail = files_match(catalogue["files"], m.files)
    res.build_ok = chk.check("catalogue files", ok, detail)
    res.build_ok &= chk.check("catalogue dirs", sorted(catalogue["dirs"]) == sorted(m.dirs))
    if plan is None:  # search
        cat = treegen.Catalogue(m)
        for rec in out["ops"]:
            if chk.op(rec, cat.expect(rec["op"], inp["ops"][rec["id"]]["arg"])):
                res.op_ms.append(rec["ms"])
        # the run's only catalogue update is the build
        res.changed_files = res.useful_hashes = len(m.files)
        res.changed_dirs = len(m.dirs)
        return res
    refreshed = out["refreshed"]
    files = {}
    for row in refreshed["files"]:
        files.setdefault(row[0].rsplit("/", 1)[0], []).append(row)
    archived = {}
    for at, path in refreshed["archived_files"] + refreshed["archived_dirs"]:
        archived.setdefault(at, []).append(path)
    for rec in out["steps"]:
        e = plan[rec["step"]]
        res.final = manifests[rec["step"]]
        timed = rec["phase"] == "refresh"
        if timed:  # the per-layer numbers cover the timed steps
            res.changed_files += e["changed_content"] + len(e["archived_files"])
            res.changed_dirs += len(e["changed_dirs"])
            res.useful_hashes += e["changed_content"]
        name = "%s step %d" % (rec["phase"], rec["step"])
        if "error" in rec:
            chk.check(name, False, rec["error"])
            chk.check(name + " duplicate search", False)
            continue
        # steps refresh distinct drives, so the drive's part of the final
        # catalogue is what this step merged
        sub = e["subtree"]
        ok, detail = files_match(
            [r for d in e["expect_dirs"] for r in files.get(d, [])],
            {p: tuple(v) for p, v in e["expect_files"].items()})
        ok = ok and sorted(d for d in refreshed["dirs"] if d == sub or
                           d.startswith(sub + "/")) == e["expect_dirs"] \
            and sorted(archived.get(rec["as_of"], [])) == e["archived_files"]
        # a step is done when its planted duplicate is found: merge + search
        if chk.check(name, ok, detail) & chk.op(rec["dup_search"], e["dup_expect"]) \
                and timed:
            res.op_ms.append(rec["refresh_s"] * 1e3 + rec["dup_search"]["ms"])
    ok, detail = files_match(refreshed["files"], res.final.files)
    chk.check("refreshed catalogue files", ok, detail)
    chk.check("refreshed catalogue dirs", sorted(refreshed["dirs"]) == sorted(res.final.dirs))
    chk.check("archive holds only the steps' deletions",
              sorted(archived) == sorted(r["as_of"] for r in out["steps"]
                                         if plan[r["step"]]["archived_files"]))
    cat = treegen.Catalogue(res.final)
    for rec in out["probe"]:
        chk.op(rec, cat.expect(rec["op"], inp["probe_ops"][rec["id"]]["arg"]))
    return res


def end_to_end_values(out, res):
    """Every end-to-end metric. A timing with no passing sample reads 0
    (and the run is marked incorrect)."""
    return {
        "setup_s": out["setup_s"],
        "op_p50_ms": median(res.op_ms),
        "state_bytes_per_file": out["state_bytes"] / len(res.final.files),
        "peak_heap_mb": out["heap_mb"],
    }


def per_layer_values(out, m, res):
    """Every per-layer metric: TraceReport's, plus the ratios that need the
    manifest or the round records. Crawl and hash figures cover the run's
    catalogue updates: the timed refresh steps, or on search the build;
    `server.build_files_per_s` is the set-up build's on both."""
    phase = "build" if "ops" in out else "refresh"
    rounds = [r for r in out["rounds"] if r["phase"] == phase]
    crawl = [r for r in rounds if r["kind"] == "crawl"]
    hashes = [r for r in rounds if r["kind"] == "hash"]
    hashed = sum(r["hashed"] for r in hashes)
    due = sum(r["due"] for r in crawl)
    # rounds that did work; each update ends with an empty fixpoint check
    busy_crawl = [(r["s"], j) for r, j in zip(crawl, out["round_jobs"]["crawl"]) if r["due"]]
    busy_hash = [(r["s"], j) for r, j in zip(hashes, out["round_jobs"]["hash"]) if r["hashed"]]
    dup_searches = sum(1 for r in out.get("steps", []) if r["phase"] == "refresh") + sum(
        1 for r in out.get("ops", []) + out["probe"] if r["op"].startswith("duplicate_"))
    src = out["sources"]
    values = dict(out["layers"])
    values.update({
        "server.build_files_per_s": len(m.files) / (out["crawl_s"] + out["hash_s"])
        if res.build_ok else 0.0,
        "server.crawl_round_s": median([s for s, _ in busy_crawl]),
        "server.crawl_round_jobs": statistics.mean([j for _, j in busy_crawl]),
        "server.hash_round_s": median([s for s, _ in busy_hash]),
        "server.hash_round_jobs": statistics.mean([j for _, j in busy_hash]),
        "server.rounds": len(crawl),
        "server.dirs_due": due,
        "server.rehash_useful_ratio": res.useful_hashes / hashed if hashed else 0.0,
        "server.useful_dir_ratio": res.changed_dirs / due if due else 0.0,
        "sources.scrape_entries_per_s": src["scrape_entries"] / src["scrape_s"],
        "sources.hash_mb_per_s": src["hash_bytes"] / 1e6 / src["hash_s"],
        "sources.hash_errors": src["hash_errors"],
        "core.bytes_written_per_changed_file":
            values["core.state_bytes_written"] / res.changed_files,
        "core.pin_invalidations": out["pin_invalidations"],
        "core.pin_hit_ratio":
            1 - values["core.pin_builds"] / dup_searches if dup_searches else 0.0,
    })
    return values


def metric_units(kind):
    """name -> unit of the `end_to_end` or `per_layer` metrics, in the
    order BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    result = run(args)
    log("run took %.1f s" % (time.time() - started))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
