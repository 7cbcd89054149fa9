#!/usr/bin/env python3
"""graft benchmark: one workload per run, against the engine's public entry points.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

The first run builds the harness and the engine from source with sbt (the
harness build in perfbench/ depends on the root build). Each run starts one
JVM (graftbench.Main), which writes raw samples to a work directory; this
script turns them into metrics, checks the outputs, and prints one line per
metric followed by the result line, a JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With --trace 0 the metrics are the
end-to-end ones, with --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / "target"
CLASSPATH = BUILD / "perfbench.classpath"
WORK = HERE / ".work"
ORACLE_CACHE = BUILD / "oracle-digests"
JVM_LIMIT_S = 150  # a run must end within 180 s, oracle check and clean-up included
BUILD_LIMIT_S = 840

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- statistics --------------------------------------------------------------

def percentile(values, q):
    """Nearest-rank q-quantile (0 < q <= 1) with its sample counts.

    Returns (value, n, n_beyond): n_beyond samples lie strictly above the
    reported rank, so a percentile is meaningful only when n_beyond >= 10.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q * len(xs)))
    return xs[rank - 1], len(xs), len(xs) - rank


def median(values):
    """Median with its sample count: (value, n)."""
    xs = list(values)
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs), len(xs)


def timed_passes(result):
    """Wall time of each timed pass in which every query succeeded.

    A pass with a failed query is not timed: its failure is counted instead.
    """
    ops = result["ops"]
    passes = []
    for p, wall in zip(result["timed_passes"], result["passes"]):
        if all(o["ok"] for o in ops if o["pass"] == p):
            passes.append(wall)
    return passes


def accounting(result):
    """(attempted, failed) operations: query runs or micro-batches."""
    if "ops" in result:
        ops = result["ops"]
        return len(ops), sum(1 for o in ops if not o["ok"])
    return int(result["attempted"]), int(result["failed"])


def geomean(values):
    """Geometric mean with its sample count: (value, n)."""
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(statistics.fmean(math.log(x) for x in xs)), len(xs)


def batch_metrics(result):
    timed = set(result["timed_passes"])
    lat = [o["total_s"] * 1e3 for o in result["ops"] if o["ok"] and o["pass"] in timed]
    passes = timed_passes(result)
    pass_s, n_pass = median(passes)
    geo, n_lat = geomean(lat)
    return {
        "setup_s": (result["setup_s"], "s", 1),
        "pass_s": (pass_s, "s", n_pass),
        # every query moves it, unlike the median of a few unlike queries
        "latency_ms": (geo, "ms", n_lat),
        # reported, not gated (see README)
        "latency_p50_ms": (median(lat)[0], "ms", n_lat),
        "cached_mb": (result["held_mb"], "MB", 1),
    }


def consume_metrics(result):
    lat = result["latency_ms"]
    p50, n = median(lat)
    p99, _, beyond = percentile(lat, 0.99)
    batch_s, n_batch = median(result["capacity_batch_s"])
    return {
        "setup_s": (result["setup_s"], "s", 1),
        "pass_s": (batch_s, "s", n_batch),
        "latency_ms": (p50, "ms", n),
        # reported, not gated (see README)
        "consume.latency_p50_ms": (p50, "ms", n),
        "consume.state_mb": (result["held_mb"], "MB", 1),
        "consume.latency_p99_ms": (p99, "ms", beyond),
        "consume.delivered_events_per_s": (result["delivered_events_per_s"], "events/s", 1),
        "consume.capacity_events_per_s": (result["capacity_events"] / batch_s, "events/s", n_batch),
    }


def layer_metrics(result):
    """Per-layer metrics of a traced run; a layer the workload does not run
    reports 0."""
    layers = {k: v for k, v in result.get("layers", {}).items()
              if isinstance(v, (int, float))}
    if "lateness_ms" in result and result["lateness_ms"]:
        layers["gen.lateness_ms"] = percentile(result["lateness_ms"], 0.99)[0]
    out = {}
    for m in (BENCHMARK or {}).get("per_layer", []):
        out[m["name"]] = (float(layers.get(m["name"], 0.0)), m["unit"], 1)
    return out


# --- correctness -------------------------------------------------------------

def _check_oracle():
    sys.path.insert(0, str(ROOT / "tools"))
    import check_oracle  # lives in the checkout, outside perfbench
    return check_oracle


def digest(df):
    """Canonical digest of a result frame: tools/check_oracle.py's
    canonicalization (columns by name, rows sorted), its dtype classes, and
    one token per cell that is equal exactly when its cell_eq is."""
    co = _check_oracle()
    df = co.canon(df)
    h = hashlib.sha256()
    h.update(json.dumps([list(df.columns), [co.kind(df[c].dtype) for c in df.columns],
                         len(df)]).encode())
    for row in df.itertuples(index=False):
        for x in row:
            if isinstance(x, float):
                tok = "nan" if math.isnan(x) else repr(x)
            else:
                try:
                    tok = "null" if pd_isna(x) else str(x)
                except (TypeError, ValueError):  # array-valued cell
                    tok = str(x)
            h.update(tok.encode() + b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()


def pd_isna(x):
    import pandas as pd
    return bool(pd.isna(x))


def oracle_digest(con, sql, data_dir):
    """The oracle's canonical digest, computed once per (SQL, data) and kept
    in the build directory."""
    key = hashlib.sha256(f"{data_dir}\n{sql}".encode()).hexdigest()
    cached = ORACLE_CACHE / f"{key}.json"
    if cached.exists():
        return json.loads(cached.read_text())["digest"]
    d = digest(con.execute(sql).df())
    ORACLE_CACHE.mkdir(parents=True, exist_ok=True)
    cached.write_text(json.dumps({"sql": sql, "data": str(data_dir), "digest": d}))
    return d


def oracle_check(data_dir, outputs):
    """Compares every query output with its DuckDB oracle by canonical
    digest. A mismatch is re-run through tools/check_oracle.py to report the
    first differing cell. Returns the failure lines."""
    import duckdb
    import pandas as pd
    co = _check_oracle()
    want = json.loads((outputs / "oracle_sql.json").read_text())
    written = sorted(p.name for p in outputs.iterdir() if p.is_dir())
    bad = [f"FAIL {n}: no oracle" for n in written if n not in want]
    bad += [f"FAIL {n}: no output" for n in want if n not in written]
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in co.TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for name in sorted(set(want) & set(written)):
        try:
            same = digest(pd.read_parquet(outputs / name)) == \
                oracle_digest(con, want[name], data_dir)
        except Exception as e:  # noqa: BLE001  (any failure is a failed check)
            bad.append(f"FAIL {name}: {type(e).__name__}: {e}")
            continue
        if not same:
            single = outputs.parent / "oracle_diff"
            shutil.rmtree(single, ignore_errors=True)
            shutil.copytree(outputs / name, single / name)
            (single / "oracle_sql.json").write_text(json.dumps({name: want[name]}))
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                co.main(str(data_dir), str(single))
            lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("FAIL")]
            bad.append(lines[0] if lines else f"FAIL {name}: digest differs from oracle")
    return bad


# --- build and launch ----------------------------------------------------------

def sources():
    for base in (HERE / "src", ROOT / "src" / "main"):
        yield from base.rglob("*.scala")
    yield HERE / "build.sbt"
    yield ROOT / "build.sbt"


def build():
    """Compiles the harness and the engine once per source state; returns the
    runtime classpath."""
    if CLASSPATH.exists():
        stamp = CLASSPATH.stat().st_mtime
        if all(p.stat().st_mtime < stamp for p in sources()):
            return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}",
           "compile", "export Runtime/fullClasspath"]
    log("building harness and engine with sbt")
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                          timeout=BUILD_LIMIT_S)
    cp = [ln for ln in proc.stdout.splitlines() if ln.startswith("/")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    BUILD.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(cp[-1])
    return cp[-1]


def java_cmd(classpath, work, main, args):
    java = shutil.which("java") or str(Path(os.environ.get("JAVA_HOME", "")) / "bin" / "java")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java, *opens, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", classpath, main, *args]


def run_jvm(classpath, work, main, args, deadline):
    """Runs one harness JVM to completion (or kills it at the deadline) and
    waits for it to end. Returns its exit code; its log is work/jvm.log."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    with open(work / "jvm.log", "w") as logf:
        proc = subprocess.Popen(java_cmd(classpath, work, main, args), cwd=ROOT,
                                env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log("harness JVM killed at the run deadline")
            return -1


def log_tail(work, n=40):
    p = work / "jvm.log"
    if p.exists():
        sys.stderr.write("".join(p.read_text(errors="replace").splitlines(True)[-n:]))


def data_dir():
    return Path(os.environ.get("GRAFT_BENCH_DATA", Path.home() / "testdata" / "sf0.1"))


def preflight():
    """Refuses to run outside a full checkout: the engine sources, the
    oracle tool and the fixture data must all be present."""
    need = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft",
            ROOT / "tools" / "check_oracle.py", data_dir() / "events.parquet"]
    missing = [str(p) for p in need if not p.exists()]
    if missing:
        raise SystemExit(f"perfbench: missing {', '.join(missing)}")
    if BENCHMARK is None:
        raise SystemExit("perfbench: missing BENCHMARK.json")


def report(name, value, unit, n):
    print(f"{name} = {value} {unit} (n={n})", flush=True)


def run(args):
    preflight()
    classpath = build()  # a first run may take longer: it builds
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        launch_ms = int(time.time() * 1000)
        rc = run_jvm(classpath, work, "graftbench.Main", [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", str(data_dir()), "--out", str(work),
            "--launch-ms", str(launch_ms)], time.time() + JVM_LIMIT_S)
        if rc != 0 or not (work / "result.json").exists():
            log_tail(work)
            raise SystemExit(f"perfbench: harness failed (exit {rc})")
        result = json.loads((work / "result.json").read_text())
        attempted, failed = accounting(result)
        problems = list(result.get("problems", []))
        if "ops" in result:
            problems += oracle_check(data_dir(), work / "outputs")
        try:
            e2e = batch_metrics(result) if "ops" in result else consume_metrics(result)
        except (KeyError, ValueError) as e:  # every operation failed: nothing timed
            problems.append(f"no timed operation: {e!r}")
            e2e = {}
        for p in problems:
            log(f"correctness: {p}")
        keep = {m["name"] for m in BENCHMARK["end_to_end"]}
        if args.trace:
            metrics = layer_metrics(result) if e2e else {}
        else:
            metrics = {k: v for k, v in e2e.items() if k in keep}
        for k, (v, unit, n) in sorted(e2e.items()):
            report(k, v, unit, n)
        report("error_rate", failed / max(1, attempted), "ratio", attempted)
        if args.trace:
            for k, (v, unit, n) in sorted(metrics.items()):
                report(k, v, unit, n)
        layers = result.get("layers", {})
        ctx = dict(result.get("context", {}), workload=args.workload, seed=args.seed,
                   problems=problems, shares=result.get("shares"),
                   per_query_jobs=layers.get("per_query_jobs"),
                   per_query_build_jobs=layers.get("per_query_build_jobs"))
        ctx = {k: v for k, v in ctx.items() if v is not None}
        print("context " + json.dumps(ctx, sort_keys=True), flush=True)
        keep_dir = WORK / "last" / args.workload
        shutil.rmtree(keep_dir, ignore_errors=True)
        keep_dir.mkdir(parents=True)
        for f in ("result.json", "trace.json", "jvm.log"):
            if (work / f).exists():
                shutil.copy(work / f, keep_dir / f)
        line = {
            "correct": not problems and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit} for k, (v, unit, _) in metrics.items()},
        }
        print(json.dumps(line), flush=True)
        return 0 if line["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def self_test():
    preflight()
    rc = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s",
                         str(HERE / "tests"), "-v"], cwd=ROOT).returncode
    classpath = build()
    work = WORK / f"selftest-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    try:
        jrc = run_jvm(classpath, work, "graftbench.SelfTest", [str(work)],
                      time.time() + JVM_LIMIT_S)
        sys.stderr.write((work / "jvm.log").read_text(errors="replace")
                         if jrc != 0 else "")
        print("".join(ln for ln in (work / "jvm.log").read_text().splitlines(True)
                      if ln.startswith(("ok  ", "FAIL"))), end="")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 1 if rc or jrc else 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if args.self_test:
        return self_test()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
