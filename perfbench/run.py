#!/usr/bin/env python3
"""Repository benchmark: daily DAG backfill, warehouse reads and corpus
preparation on a local[4] Spark session.

    python3 perfbench/run.py --workload daily_backfill --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

The first run in a checkout compiles src/main and the harness under
perfbench/src into .bench_build/ (reused while the sources are
unchanged), with the Scala compiler in the Spark jar directory the sbt
build compiles against. Each run starts one JVM, which builds the
workload's inputs from the seed, times closed-loop calls for --seconds,
checks every output and hands its raw samples to this script, which
turns them into metrics. The last stdout line is {"correct", "attempted",
"failed", "metrics"}: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ["daily_backfill", "warehouse_reads", "corpus_prepare"]
MAIN_KIND = {"daily_backfill": "day", "warehouse_reads": "read.", "corpus_prepare": "prepare"}
HEAP = "3g"
# seconds one run may take, build excluded / included
RUN_LIMIT_S, BUILD_LIMIT_S = 175, 880

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The jar directory the sbt build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text()) \
        if (ROOT / "build.sbt").exists() else None
    if m:
        return Path(m.group(1))
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    main = sorted((ROOT / "src" / "main").rglob("*"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    return [p for p in main if p.is_file()], bench


def build():
    """Compile src/main and the harness; returns (classes dir, built now)."""
    main, bench = sources()
    main_code = [p for p in main if p.suffix in (".scala", ".java")]
    if not any(p.suffix == ".scala" for p in main_code):
        raise SystemExit("perfbench: no program sources under src/main; run from a full checkout")
    jars = spark_jars()
    if not jars.is_dir():
        raise SystemExit(f"perfbench: Spark jars not found at {jars}")
    h = hashlib.sha256()
    for p in main + bench:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out, False
    tmp = BUILD / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "main").mkdir(parents=True)
    (tmp / "bench").mkdir()
    t0 = time.time()
    cp = f"{jars}/*"
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
              "-encoding", "UTF-8", "-nowarn"]
    java_src = [str(p) for p in main_code if p.suffix == ".java"]
    run_checked(scalac + ["-d", str(tmp / "main"), "-cp", cp]
                + [str(p) for p in main_code])
    if java_src:
        run_checked(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8", "-d", str(tmp / "main"),
                     "-cp", f"{tmp / 'main'}:{cp}"] + java_src)
    res = ROOT / "src" / "main" / "resources"
    if res.is_dir():
        shutil.copytree(res, tmp / "main", dirs_exist_ok=True)
    run_checked(scalac + ["-d", str(tmp / "bench"), "-cp", f"{tmp / 'main'}:{cp}"]
                + [str(p) for p in bench])
    (tmp / ".complete").write_text(f"{time.time() - t0:.1f}\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for old in BUILD.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    log(f"built {out.name} in {time.time() - t0:.1f}s")
    return out, True


def run_checked(cmd):
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-20000:])
        raise SystemExit("perfbench: build failed")


def run_jvm(classes, workload, seed, seconds, trace, deadline):
    """One JVM run of one workload; returns its raw result dict."""
    work = BUILD / "work" / f"{workload}-{os.getpid()}-{trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    # no hsperfdata files: the JVM would write them to the system temp dir
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={work / 'spark-warehouse'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", f"{classes / 'main'}:{classes / 'bench'}:{spark_jars()}/*",
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--work", str(work), "--out", str(out),
    ]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {workload} run exceeded its time limit")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    try:
        if proc.returncode != 0 or not out.exists():
            raise SystemExit(f"perfbench: {workload} JVM exited with {proc.returncode}")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def kind_ops(raw, prefix):
    return [o for o in raw["ops"] if o["kind"].startswith(prefix)]


def main_ops(raw):
    """The ops whose latency the workload reports: one backfill day, one
    analyst round of the four reads (in the order run), one prepare."""
    w = raw["workload"]
    if w != "warehouse_reads":
        return kind_ops(raw, MAIN_KIND[w])
    reads = kind_ops(raw, "read.")
    return [{"kind": "round", "s": sum(o["s"] for o in g),
             "cpu_s": sum(o["cpu_s"] for o in g), "ok": all(o["ok"] for o in g)}
            for g in (reads[i:i + 4] for i in range(0, len(reads) - 3, 4))]


def setup_s(raw):
    """Session start + warm-up + the median of the repeated fixture builds."""
    return raw["session_s"] + raw["warmup_s"] + stats.median(raw["fixture_s"])


def end_to_end(raw):
    ops = main_ops(raw)
    timed = [o for o in raw["ops"] if o["kind"] != "check"]
    lat = stats.latencies(ops)
    return {
        "setup_s": setup_s(raw),
        "op_p50_s": stats.median(lat),
        "wall_per_op_s": sum(o["s"] for o in timed) / len(ops),
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def report(raw):
    """The workload's own end-to-end figures under its own names (day, read, docs)."""
    w = raw["workload"]
    ops = main_ops(raw)
    lat = stats.latencies(ops)
    t = stats.tail(lat)
    tail = ({"value": t[1], "percentile": t[0], "samples": t[2]} if t
            else {"value": None, "percentile": None, "samples": len(lat)})
    r = {"setup_s": setup_s(raw), "session_s": raw["session_s"],
         "warmup_s": raw["warmup_s"], "fixture_s": raw["fixture_s"],
         "first_op_at_s": raw["first_op_at_s"],
         "fail_ratio": stats.fail_ratio(raw["ops"]),
         "peak_rss_mb": raw["peak_rss_mb"], "samples": len(lat),
         "op_cpu_s": stats.median(stats.latencies(ops, "cpu_s"))}
    if w == "daily_backfill":
        window = [o for o in raw["ops"] if o["kind"] in ("day", "maintenance")]
        r.update(day_p50_s=stats.median(lat), day_tail_s=tail,
                 backfill_s=sum(o["s"] for o in window),
                 backfill_days=len(ops),
                 pipeline_retries=raw["layers"].get("pipeline.retries"),
                 maintenance_runs=sum(1 for o in window if o["kind"] == "maintenance"))
    elif w == "warehouse_reads":
        reads = stats.latencies(kind_ops(raw, "read."))
        t = stats.tail(reads)
        r.update(round_p50_s=stats.median(lat), read_p50_s=stats.median(reads),
                 read_tail_s={"value": t[1], "percentile": t[0], "samples": t[2]} if t else None)
        for k in sorted({o["kind"] for o in kind_ops(raw, "read.")}):
            r[f"{k}.p50_s"] = stats.median(stats.latencies(kind_ops(raw, k)))
    else:
        r.update(docs_per_s=raw["sizes"]["docs"] / stats.median(lat),
                 prepare_p50_s=stats.median(lat), prepare_tail_s=tail)
    return r


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def finite(v):
    # a failed op reads as an infinite latency; JSON has no infinity
    return v if v == v and abs(v) != float("inf") else 1e9


def summarize(raw, trace):
    bench = spec()
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    checks_ok = all(c["ok"] for c in raw["checks"])
    if trace:
        layers = dict(raw["layers"])
        layers["trace.op_p50_s"] = stats.median(stats.latencies(main_ops(raw)))
        names = bench["per_layer"]
    else:
        layers = end_to_end(raw)
        names = bench["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in layers]
    if missing:
        raise SystemExit(f"perfbench: run did not produce {missing}")
    metrics = {m["name"]: {"value": finite(layers[m["name"]]), "unit": m["unit"]} for m in names}
    return {"correct": failed == 0 and checks_ok and bool(raw["ops"]),
            "attempted": len(raw["ops"]), "failed": failed, "metrics": metrics}


def echo(raw, trace):
    print("perfbench env " + json.dumps(dict(raw["env"], workload=raw["workload"],
                                             seed=raw["seed"], trace=trace,
                                             source=source_id())), flush=True)
    print("perfbench sizes " + json.dumps(raw["sizes"]), flush=True)
    bad = [c for c in raw["checks"] if not c["ok"]] + [o for o in raw["ops"] if not o["ok"]]
    for b in bad[:20]:
        print("perfbench FAILED " + json.dumps(b), flush=True)
    if trace:
        print(f"perfbench layers {raw['workload']} " + json.dumps(raw["layers"]), flush=True)
    else:
        print(f"perfbench report {raw['workload']} " + json.dumps(report(raw)), flush=True)


def source_id():
    """Commit of the checkout when it is a git repository, else a hash
    of the program sources."""
    try:
        top, sha = (subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "--show-toplevel", "HEAD"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=10).stdout.split() + ["", ""])[:2]
        if top and Path(top).resolve() == ROOT and sha:
            return "git:" + sha
    except (OSError, subprocess.SubprocessError):
        pass
    main, _ = sources()
    h = hashlib.sha256()
    for p in main:
        h.update(p.read_bytes())
    return "src:" + h.hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    classes, built = build()
    limit = BUILD_LIMIT_S if built else RUN_LIMIT_S
    if a.workload != "all":
        raw = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, start + limit)
        echo(raw, a.trace)
        print(json.dumps(summarize(raw, a.trace)), flush=True)
        return
    # every workload, untraced then traced, with the tracing overhead
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        plain = run_jvm(classes, w, a.seed, a.seconds, 0, time.time() + RUN_LIMIT_S)
        echo(plain, 0)
        traced = run_jvm(classes, w, a.seed, a.seconds, 1, time.time() + RUN_LIMIT_S)
        echo(traced, 1)
        for raw, tr in ((plain, 0), (traced, 1)):
            s = summarize(raw, tr)
            print(f"perfbench result {w} trace={tr} " + json.dumps(s), flush=True)
            total["correct"] &= s["correct"]
            total["attempted"] += s["attempted"]
            total["failed"] += s["failed"]
            total["metrics"].update({f"{w}.{k}": v for k, v in s["metrics"].items()})
        p0 = stats.median(stats.latencies(main_ops(plain)))
        p1 = stats.median(stats.latencies(main_ops(traced)))
        print(f"perfbench overhead {w} " + json.dumps(
            {"untraced_op_p50_s": p0, "traced_op_p50_s": p1,
             "tracing_overhead": p1 / p0 - 1}), flush=True)
    print(json.dumps(total), flush=True)


if __name__ == "__main__":
    main()
