#!/usr/bin/env python3
"""hielospark benchmark: one seeded, oracle-checked workload per command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The runner
  1. compiles the library and the harness from source into .bench_build/
     (skipped when sources are unchanged),
  2. stages the workload's inputs from the seed under .bench_run/,
  3. runs the JVM harness (set-up, warm-up, timed closed-loop passes),
  4. checks every op's warm-up output against its DuckDB twin,
  5. prints a summary, then one JSON result as the last line.
See perfbench/README.md for the workloads, metrics and trace.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
RESULTS = os.path.join(ROOT, ".bench_out")
JVM_TIMEOUT_S = 150
HEAP = "3g"

# The inputs each workload stages. What it runs (ops, items, traced
# layers) is defined in scala/Harness.scala; why each was chosen is in
# README.md.
WORKLOADS = {
    "media_curation": {"media_images": 400},
    "stream_ingest": {"doc_families": 500, "vectors": 200, "copies": 3,
                      "events": 20000},
}
FILES_PER_TABLE = 4
END_TO_END = [("setup_s", "s"), ("items_per_s", "items/s"), ("cpu_s", "s")]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    src = os.path.join(ROOT, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True))
    if not files:
        fail(f"no program sources under {src}: run from a checkout root")
    return files


def fixture_root(files):
    """The absolute fixture root the sources hard-code (the directory that
    holds `fixtures/`), read off FixtureCatalog.DefaultDir; None when the
    sources no longer hard-code one."""
    for f in files:
        if f.endswith("MetaCatalog.scala"):
            m = re.search(r'val DefaultDir = "(/[^"]*)/fixtures/meta"',
                          open(f).read())
            if m:
                return m.group(1)
    return None


def build(jars):
    """Compile the program with its hard-coded fixture root pointed at
    this checkout's fixtures, plus the harness, into .bench_build/classes.
    """
    files = sources()
    hard = fixture_root(files)
    harness = sorted(glob.glob(os.path.join(BENCH, "scala", "*.scala")))
    h = hashlib.sha256(f"{ROOT}|{hard}|{jars}".encode())
    for f in files + harness:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, hard, stamp
    t0 = time.time()
    gen = os.path.join(BUILD, "src")
    shutil.rmtree(gen, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    copies = []
    src_root = os.path.join(ROOT, "src", "main", "scala")
    for f in files:
        dst = os.path.join(gen, os.path.relpath(f, src_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        text = open(f, encoding="utf-8").read()
        if hard and hard != ROOT:
            text = text.replace(f"{hard}/fixtures", f"{ROOT}/fixtures")
        with open(dst, "w", encoding="utf-8") as out:
            out.write(text)
        copies.append(dst)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp] + copies + harness
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes, hard, stamp


def tree_hash(path):
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(path)):
        dirnames.sort()
        for n in sorted(filenames):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(classes, jars, tmp):
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m",
             "-XX:-UsePerfData"] + ADD_OPENS +
            [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{classes}:{os.path.join(jars, '*')}"])


def media_corpus(n, classes, jars, stamp, tmp):
    """The program's generated media corpus of `n` images (plus n/4 WAVs
    and n/8 clips). Its content depends only on n and the program, so it
    is generated once per build and kept under .bench_build/."""
    path = os.path.join(BUILD, f"media-{stamp[:16]}-{n}")
    if not os.path.isdir(path):
        part = path + f".tmp{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        r = subprocess.run(java_cmd(classes, jars, tmp) + [
            "perfbench.Harness", "gen-media", part, str(n)],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=JVM_TIMEOUT_S, cwd=tmp)
        if r.returncode != 0:
            fail("media corpus generation failed", 3)
        os.rename(part, path)
    return path


def stage_inputs(sc, seed, data_dir, media):
    if media:
        return inputs.stage_media(media, data_dir, seed, FILES_PER_TABLE)
    tables = {
        "documents": inputs.documents(seed, sc["doc_families"], sc["copies"]),
        "embeddings": inputs.embeddings(seed, sc["vectors"], sc["copies"]),
        "events": inputs.events(seed, sc["events"]),
    }
    return inputs.stage(data_dir, seed, tables, FILES_PER_TABLE)


def ckpt_dirs():
    """The program's operator checkpoint/spill dirs, its own and any other
    process's. Its JVM-exit hook removes the ones it made."""
    return set(glob.glob("/dev/shm/graft-ckpt-*") +
               glob.glob("/tmp/graft-ckpt-*"))


def stream_links(data_dir):
    """The stream-source link dirs the program makes outside the checkout
    for this run's data dir (`StreamOps.fileStream` names them after it)."""
    tag = re.sub("[^A-Za-z0-9]", "_", data_dir)
    return glob.glob(f"/tmp/graft_stream/{glob.escape(tag)}_*")


def drop_stale_runs():
    """Remove the run dirs of runners that are gone (killed before their
    own cleanup); the dirs of live concurrent runs stay."""
    for d in glob.glob(os.path.join(RUNS, "*-*-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def host_facts():
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    return {"nproc": os.cpu_count(), "mem_mb": mem,
            "load_start": os.getloadavg()[0]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the JVM child is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scale = WORKLOADS[a.workload]
    host = host_facts()
    jars = spark_jars()
    classes, hard_root, stamp = build(jars)
    fixtures = os.path.join(ROOT, "fixtures")
    if not os.path.isdir(fixtures):
        fail(f"no fixtures/ under {ROOT}")
    fixtures_sha = tree_hash(fixtures)

    drop_stale_runs()
    work = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    data, out, tmp = (os.path.join(work, d) for d in ("data", "out", "tmp"))
    for d in (data, out, tmp):
        os.makedirs(d, exist_ok=True)
    ckpt_before = ckpt_dirs()
    try:
        t0 = time.time()
        media = (media_corpus(scale["media_images"], classes, jars, stamp,
                              tmp)
                 if "media_images" in scale else None)
        counts = stage_inputs(scale, a.seed, data, media)
        data_sha = tree_hash(data)
        gen_s = time.time() - t0
        cmd = (java_cmd(classes, jars, tmp) +
               ["perfbench.Harness", f"workload={a.workload}",
                f"data={data}", f"out={out}", f"fixtures={fixtures}",
                f"seconds={a.seconds}", f"seed={a.seed}",
                f"trace={a.trace}"])
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        log_path = os.path.join(work, "jvm.log")
        launched = time.time()
        with open(log_path, "w") as log:
            try:
                r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                   env=env, timeout=JVM_TIMEOUT_S, cwd=work)
            except subprocess.TimeoutExpired:
                fail(f"harness exceeded {JVM_TIMEOUT_S}s", 3)
        jvm_s = time.time() - launched
        res_path = os.path.join(out, "result.json")
        if r.returncode != 0 or not os.path.exists(res_path):
            with open(log_path) as f:
                print(f.read()[-4000:], file=sys.stderr)
            fail(f"harness exited with {r.returncode}", 3)
        with open(res_path) as f:
            res = json.load(f)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            sql = json.load(f)
        os.makedirs(RESULTS, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}" + ("-trace" if a.trace else "")
        spans = os.path.join(RESULTS, tag + ".spans.jsonl")
        if a.trace:
            shutil.copy(os.path.join(out, "spans.jsonl"), spans)

        t1 = time.time()
        media_fixture = os.path.join(fixtures, "media", "media.parquet")
        verdicts = oracle.check(a.workload, f"{data_sha}|{fixtures_sha}",
                                res["ops"], out, data, sorted(counts), sql,
                                os.path.join(BUILD, "oracle-cache"),
                                media_fixture, tmp)
        oracle_s = time.time() - t1
    finally:
        # the program's JVM-exit hook removes its checkpoint dirs; what is
        # left is counted, not removed, since another process may own it
        ckpt_left = len(ckpt_dirs() - ckpt_before)
        for p in stream_links(data):
            shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    bad = sorted(op for op, v in verdicts.items()
                 if v["status"] in ("mismatch", "missing"))
    errors = dict(res["warmup_failures"])
    errors.update(res["failures"])
    passes = len(res["pass_s"])
    attempted = int(res["attempted"])
    # an op whose output failed the check failed on every execution
    failed = int(res["failed"]) + sum(passes for op in bad
                                      if op not in res["failures"])
    failed = min(failed, attempted)
    metrics = {
        "setup_s": int(res["setup_end_ms"]) / 1e3 - launched,
        "items_per_s": res["items_per_pass"] / statistics.median(res["pass_s"]),
        "cpu_s": statistics.median(res["pass_cpu_s"]),
    }
    units = dict(END_TO_END)
    error_rate = failed / attempted if attempted else 1.0

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "metrics": metrics, "error_rate": error_rate,
        "heap_peak_mb": res["heap_peak_mb"],
        "passes": passes, "op_samples": len(res["op_ms"]),
        "op_p50_ms": statistics.median(res["op_ms"]),
        "items_per_pass": res["items_per_pass"],
        "pass_s": res["pass_s"], "pass_cpu_s": res["pass_cpu_s"],
        "op_ms_by_op": res["op_ms_by_op"],
        "warm_pass_s": res["warm_pass_s"],
        "jvm_boot_s": int(res["jvm_start_ms"]) / 1e3 - launched,
        "gc_count": res["gc_count"], "input_gen_s": gen_s,
        "oracle_s": oracle_s, "jvm_s": jvm_s,
        "inputs": {"seed": a.seed, "scale": scale, "sha256": data_sha,
                   "tables": {k: {"rows": r, "files": n}
                              for k, (r, n) in counts.items()}},
        "fixtures": {"hard_coded_root": hard_root, "read_from": fixtures,
                     "sha256": fixtures_sha},
        "check": verdicts, "failing_ops": sorted(set(bad) | set(errors)),
        "errors": errors,
        "ckpt_dirs_left": ckpt_left,
        "host": dict(host, **res["host"]),
    }
    if a.trace:
        record["layers"] = res["layers"]
        record["self_time_s"] = self_times(spans)
        record["traced_pass_s"] = res["traced_pass_s"]
    with open(os.path.join(RESULTS, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(f"workload {a.workload} seed {a.seed}: {passes} passes, "
          f"{attempted} ops attempted, op latency p50 "
          f"{record['op_p50_ms']:.1f} ms over {len(res['op_ms'])} samples")
    for k, v in metrics.items():
        print(f"  {k:14s} {v:12.4f} {units[k]}")
    print(f"  {'heap_peak_mb':14s} {res['heap_peak_mb']:12.4f} MB (not gated)")
    print(f"  {'error_rate':14s} {error_rate:12.4f} ratio"
          + (f"  failing: {', '.join(record['failing_ops'])}"
             if record["failing_ops"] else ""))
    checked = sum(v["status"] == "pass" for v in verdicts.values())
    rows_only = sum(v["status"] == "rows_only" for v in verdicts.values())
    print(f"  check: {checked} match DuckDB, {rows_only} rows-only, "
          f"{len(bad)} failed")
    if a.trace:
        print(f"  trace: {tag}.spans.jsonl, tracing overhead "
              f"{res['layers'].get('trace.overhead_s', 0):.4f} s/pass")
        for name, s in sorted(record["self_time_s"].items(),
                              key=lambda kv: -kv[1])[:12]:
            print(f"    self {name:28s} {s:10.4f} s")
    shown = res["layers"] if a.trace else metrics
    out_metrics = {k: {"value": v, "unit": layer_unit(k) if a.trace
                       else units[k]} for k, v in shown.items()}
    print(json.dumps({"correct": not bad and not errors,
                      "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


def layer_unit(name):
    tail = name.rsplit(".", 1)[-1]
    if tail == "s" or tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if tail in ("verify_yield",):
        return "ratio"
    return "count"


def _union(intervals):
    total, hi_seen = 0, None
    for lo, hi in sorted(intervals):
        if hi_seen is not None and lo < hi_seen:
            lo = hi_seen
        if hi > lo:
            total += hi - lo
            hi_seen = hi
    return total


def self_times(path):
    """Per-layer self time in seconds: each span's duration minus the part
    of it its child spans cover, summed by layer. Spark jobs can overlap
    (adaptive execution submits query stages concurrently), so a `job.*`
    entry is the wall time covered by that layer's jobs, not their sum."""
    spans = [json.loads(line) for line in open(path)]
    kids, jobs, total = {}, {}, {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        name = "op" if s["name"].startswith("op.") else s["name"]
        if name.startswith("job."):
            jobs.setdefault(name, []).append((s["start_us"], s["end_us"]))
            continue
        covered = _union((max(c["start_us"], s["start_us"]),
                          min(c["end_us"], s["end_us"]))
                         for c in kids.get(s["id"], []))
        total[name] = total.get(name, 0.0) + \
            (s["end_us"] - s["start_us"] - covered) / 1e6
    for name, iv in jobs.items():
        total[name] = _union(iv) / 1e6
    return total


if __name__ == "__main__":
    main()
