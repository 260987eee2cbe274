#!/usr/bin/env python3
"""graft benchmark: one workload per invocation.

    python3 graftbench/run.py --workload ticks_batch --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. It builds the driver together with graft's
main sources (graftbench/build.sh, into .bench_build/), generates the seed's
inputs (gen.py), starts a set-up-only JVM and the workload JVM, checks
the output and prints one JSON result as the last line of stdout. The
end-to-end metrics come from the untraced run (--trace 0); --trace 1 runs
the traced pass and prints the per-layer metrics instead. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # write nothing beside the sources

# Input sizes. ticks_stream reads a prefix of the ticks_batch table.
TICKS = dict(n_ticks=100_000, n_days=2)
STREAM = dict(batch_ticks=1_000, max_batches=60)
CORPUS = dict(n_docs=6_000, n_vecs=2_000)
SETUPS = 2  # set-ups per run: a set-up-only JVM, then the workload JVM
# Operations measured per run (a full run, or a micro-batch): at least
# MIN_OPS, more while --seconds last. They are measured from a cold start:
# a batch job in its own JVM pays its plans' code generation on every run,
# and a fresh stream's first batches carry its queries' start-up; timings
# taken there repeat across JVMs, where a half-warm JIT state does not.
MIN_OPS = {"ticks_batch": 1, "ticks_stream": 8, "corpus_dedup": 1}
MIN_RECALL = 0.95  # corpus_dedup: planted near-dup pairs that must be found

E2E = [("setup_s", "s"), ("wall_s", "s"), ("wall_p75_s", "s"), ("cpu_s", "s"),
       ("rows_per_s", "rows/s"), ("peak_heap_mb", "MB")]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles the driver and graft's main sources once per source state."""
    srcs = list((HERE / "src").rglob("*.scala")) + list((ROOT / "src/main/scala").rglob("*.scala"))
    stamp = digest(srcs + [HERE / "build.sh"])
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    log("building")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    with open(BUILD / "build.log", "w") as out:
        r = subprocess.run(["bash", str(HERE / "build.sh"), str(classes)],
                           stdout=out, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.exit(f"build failed, see {BUILD / 'build.log'}")
    stamp_file.write_text(stamp)
    return classes


def gen_key():
    """Names the generator's output: gen.py and the input sizes."""
    sizes = json.dumps([TICKS, STREAM["batch_ticks"], CORPUS], sort_keys=True)
    return hashlib.sha256(sizes.encode() + (HERE / "gen.py").read_bytes()).hexdigest()[:16]


def inputs(seed, part):
    """The seed's generated tables for `part` ("ticks" or "corpus"), made once."""
    import gen
    d = BUILD / "data" / gen_key() / f"seed-{seed}" / part
    if not (d / "truth.json").exists():
        log(f"generating {part} for seed {seed}")
        if d.exists():
            shutil.rmtree(d)
        if part == "ticks":
            gen.gen_ticks(d, seed, late_lag=2 * STREAM["batch_ticks"], **TICKS)
        else:
            gen.gen_corpus(d, seed, **CORPUS)
    return d


# ------------------------------------------------------------ JVM running

def driver_mem():
    """The driver heap of the tier-1 test command: half the RAM, 2g..8g."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classes, tag, args, deadline):
    """Runs graftbench.Main to its end, killing it at `deadline` (a
    time.monotonic()). Returns its set-up time: process start until it
    printed READY (a warmed GraftSession)."""
    tmp = BUILD / "tmp" / tag
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "local").mkdir(parents=True)
    cmd = ["java", f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.environ['SPARK_HOME']}/jars/*", "graftbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=str(tmp / "local"))
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    log_file = BUILD / "logs" / f"{tag}.log"
    log_file.parent.mkdir(parents=True, exist_ok=True)
    setup = None
    with open(log_file, "w") as err:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env, cwd=tmp)
        killer = threading.Timer(max(1.0, deadline - t0), p.kill)
        killer.start()
        try:
            for line in p.stdout:
                if line.strip() == "READY" and setup is None:
                    setup = time.monotonic() - t0
            p.wait()
        finally:
            killer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
            shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0 or setup is None:
        sys.exit(f"graftbench: JVM {tag} failed (exit {p.returncode}), see {log_file}")
    return setup


# ------------------------------------------------------------ correctness

def expected_table():
    f = HERE / "expected.json"
    t = json.loads(f.read_text()) if f.exists() else {}
    return t.get("hashes", {}) if t.get("generator") == gen_key() else {}


def expected_hash(workload, seed):
    """The seed's expected output hash: recorded in expected.json, or
    cached in .bench_build by an earlier checked run in this checkout."""
    h = expected_table().get(workload, {}).get(str(seed))
    if h is None:
        f = BUILD / "expected" / gen_key() / f"{workload}-seed-{seed}.json"
        if f.exists():
            h = json.loads(f.read_text())["hash"]
    return h


def record_expected(workload, seed, h):
    f = BUILD / "expected" / gen_key() / f"{workload}-seed-{seed}.json"
    f.parent.mkdir(parents=True, exist_ok=True)
    f.write_text(json.dumps({"hash": h}))


def oracle_check(data, out):
    """ticks_batch against the independent reference: the pipeline_full
    oracle of scripts/check_correctness.py with its linear-time replay."""
    d = out.parent
    (d / "oracle_sql.json").write_text(json.dumps({"pipeline_full": (out.parent / "pipeline_full.sql").read_text()}))
    r = subprocess.run([sys.executable, "-B", str(ROOT / "scripts/check_correctness.py"), str(data), str(d),
                        "--only", "pipeline_full", "--linear-replay"],
                       capture_output=True, text=True, timeout=600)
    log("oracle: " + r.stdout.strip().replace("\n", " | "))
    return r.returncode == 0


def planted_pairs(clusters):
    return {(a, b) for c in clusters for a in c for b in c if a < b}


def recall_check(data, out):
    """corpus_dedup against the planted ground truth. Returns (ok, recall):
    recall is the share of planted text and vector near-dup pairs the output
    puts in one group; ok also needs every group to lie inside one planted
    cluster (no merges across clusters, no groups of random documents)."""
    import pyarrow.parquet as pq
    truth = json.loads((data / "truth.json").read_text())
    rows = pq.read_table(out).to_pylist()
    ok, found, planted = True, 0, 0
    for side, key in (("text", "text_clusters"), ("vec", "vec_clusters")):
        groups = {}
        for r in rows:
            if r["side"] == side and r["cluster"] is not None and r["cluster"] >= 0:
                groups.setdefault(r["cluster"], set()).add(r["id"])
        owner = {i: n for n, c in enumerate(truth[key]) for i in c}
        for g in groups.values():
            if len({owner.get(i, -1 - i) for i in g}) != 1:
                ok = False
        pairs = planted_pairs(truth[key])
        got = {(a, b) for g in groups.values() for a in g for b in g if a < b}
        found += len(pairs & got)
        planted += len(pairs)
    recall = found / max(planted, 1)
    return ok and recall >= MIN_RECALL, recall


# ------------------------------------------------------------ the run

def quantile(xs, q):
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    return statistics.quantiles(s, n=100, method="inclusive")[int(q * 100) - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ticks_batch", "ticks_stream", "corpus_dedup"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "src/main/scala/graft").is_dir() or not (ROOT / "scripts/check_correctness.py").is_file():
        sys.exit("graftbench: run from the root of a graft checkout (no graft sources found)")
    if not os.environ.get("SPARK_HOME"):
        sys.exit("graftbench: SPARK_HOME must name a Spark 4 install")

    w = a.workload
    classes = build()
    data = inputs(a.seed, "corpus" if w == "corpus_dedup" else "ticks")
    t_start = time.monotonic()  # the JVMs must end within 165 s of here
    run_id = f"{w}-seed-{a.seed}-trace-{a.trace}-{os.getpid()}"
    rdir = BUILD / "runs" / run_id
    shutil.rmtree(rdir, ignore_errors=True)
    rdir.mkdir(parents=True)
    out = rdir / ("pipeline_full" if w == "ticks_batch" else "output")
    args = {"workload": w, "data": data, "seconds": a.seconds, "min-ops": MIN_OPS[w],
            "trace": a.trace, "out": rdir / "record.json", "output": out,
            "spans": rdir / "spans.json"}
    if w == "ticks_stream":
        args.update({"batch-ticks": STREAM["batch_ticks"], "max-batches": STREAM["max_batches"],
                     "late": data / "late_event_ids.txt", "scratch": rdir / "stream"})

    setups = [run_jvm(classes, tag, a_, t_start + 165) for tag, a_ in
              [(f"setup-{i}", {"workload": "none"}) for i in range(SETUPS - 1)] + [(run_id, args)]]
    rec = json.loads((rdir / "record.json").read_text())
    log(f"record: {json.dumps(rec)[:1500]}")

    problems = []
    hashes = rec["hashes"]
    if len(hashes) != 1:
        problems.append(f"operations disagree on the output hash: {hashes}")
    h = hashes[0]
    if a.trace == 1 and rec.get("traced_hash") != h:
        problems.append(f"traced hash {rec.get('traced_hash')} != untraced hash {h}")
    recall = None
    if w == "corpus_dedup":
        ok, recall = recall_check(data, out)
        log(f"planted-pair recall {recall:.4f}")
        if not ok:
            problems.append(f"output fails the planted ground truth (recall {recall:.4f})")
    if w == "ticks_stream":
        if rec["reference_hash"] != h or rec["reference_rows"] != rec["rows_out"]:
            problems.append("stream output != batch composition on the same ticks minus late ticks: "
                            f"{h}/{rec['rows_out']} vs {rec['reference_hash']}/{rec['reference_rows']}")
        if rec["late_dropped"] != rec["late_expected"]:
            problems.append(f"watermark dropped {rec['late_dropped']} rows, {rec['late_expected']} planted")
    else:
        want = expected_hash(w, a.seed)
        if want is None and not problems:
            if w == "ticks_batch" and not oracle_check(data, out):
                problems.append("output fails the pipeline_full oracle")
            else:
                record_expected(w, a.seed, h)
                want = h
        if want is not None and want != h:
            problems.append(f"output hash {h} != expected {want} for seed {a.seed}")

    ops = rec["ops"]  # [wall_s, cpu_s] per operation
    attempted = len(ops)
    failed = attempted if problems else 0
    for p in problems:
        log("FAILED: " + p)
    if a.trace == 0:
        walls = [o[0] for o in ops]
        metrics = {
            "setup_s": statistics.median(setups),
            "wall_s": statistics.median(walls),
            "wall_p75_s": quantile(walls, 0.75),
            "cpu_s": sum(o[1] for o in ops) / len(ops),
            "rows_per_s": rec["rows_per_op"] * len(ops) / sum(walls),
            "peak_heap_mb": rec["peak_heap_mb"],
        }
        units = dict(E2E)
    else:
        layers = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
        got = dict(rec["per_layer"])
        got["core.session.busy_s"] = rec["session_s"]
        got["peak_rss_mb"] = rec["peak_rss_mb"]
        got["dup_recall"] = recall or 0.0
        metrics = {m["name"]: got.get(m["name"], 0.0) for m in layers}
        units = {m["name"]: m["unit"] for m in layers}
    log(f"{w} seed {a.seed}: {attempted} operations, {len(ops)} measured, setups {setups}, "
        f"load {rec.get('load_1m_before')}..{rec.get('load_1m_after')}, {time.monotonic() - t_start:.1f} s")
    shutil.rmtree(rdir / "stream", ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
