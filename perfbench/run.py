#!/usr/bin/env python3
"""The repository's benchmark: raw visibility files to flags, and pruned reads.

    python3 perfbench/run.py --workload gpubox_flags --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark's JVM runner from source (sbt, into the
checkout), generates the workload's inputs from the seed, runs one JVM with
one closed-loop client on local[nproc], checks every output and prints one
JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics. A line before it carries the run's
environment stamp. See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
BUILD = HERE / ".build"
sys.path.insert(0, str(HERE))
import tables  # noqa: E402

HEAP = "2g"
SETUPS = 3
# Untimed warm-up per workload (seconds). The reads path plans a new query
# per request and keeps getting faster for ~30 s of requests; a flags pass
# is nearly flat after the set-up passes.
WARMUP_S = {"gpubox_flags": 3, "parquet_flags": 3, "pruned_reads": 14, "curation_mix": 20}
POLS = ["XX", "YY", "XY", "YX"]
FREQ0_HZ, DF_HZ = 1.3e8, 40000.0
TONE_AMP, STREAK_AMP = 40.0, 60.0

# Observation geometry per workload. "tiny" is for the benchmark's own tests.
GEOMETRY = {
    "full": {
        "gpubox_flags": dict(ntimes=16, nants=16, ncoarse=6, nfine=32, npols=4),
        "parquet_flags": dict(ntimes=16, nants=16, ncoarse=6, nfine=32, npols=4),
        "pruned_reads": dict(ntimes=96, nants=8, ncoarse=6, nfine=32, npols=4),
        "curation_mix": dict(ntimes=1, nants=1, ncoarse=1, nfine=1, npols=1),
    },
    "tiny": {
        "gpubox_flags": dict(ntimes=12, nants=4, ncoarse=2, nfine=8, npols=2),
        "parquet_flags": dict(ntimes=12, nants=4, ncoarse=2, nfine=8, npols=2),
        "pruned_reads": dict(ntimes=8, nants=3, ncoarse=2, nfine=4, npols=2),
        "curation_mix": dict(ntimes=1, nants=1, ncoarse=1, nfine=1, npols=1),
    },
}
# The fixed tone and streak of the pruned-reads observation (VisGenerator
# defaults; the reads do not depend on where they sit).
READS_PLANT = dict(tone_freq=5, tone_start=6, tone_end=9, streak_time=12)

# Which per-layer metric families each workload's traced run measures; the
# others print 0 (that workload does no work in that layer).
LAYERS = {
    "gpubox_flags": ("sources.plan_ms", "sources.partitions_kept_frac", "sources.decode",
                     "mwa.", "engine.", "plans.", "trace.", "failed_frac"),
    "parquet_flags": ("sources.plan_ms", "sources.partitions_kept_frac", "sources.decode",
                      "mwa.", "engine.", "plans.", "trace.", "failed_frac"),
    "pruned_reads": ("sources.plan_ms", "sources.partitions_kept_frac", "sources.fits.",
                     "sources.uvfits.", "sources.uvh5.", "engine.", "plans.", "trace.",
                     "curation.", "failed_frac"),
    "curation_mix": ("curation.", "engine.", "plans.", "trace.", "failed_frac"),
}
MIX_QUERIES = ["d11_pipeline", "d28_kcore", "q69_recursive_sql", "q57_group_topk_exec",
               "x03_ivf_knn", "x12_kmeans_portable", "q65_bloom_prefilter"]


class BenchError(Exception):
    pass


# ----------------------------------------------------------------- inputs

def planted(seed, g):
    """Where the seed plants the narrowband tone and the broadband streak.

    The tone spans [start, end] at one fine channel; the streak is one
    integration. Both stay clear of the first and last integration and of
    each other, so each leaves its own edges in the time-differenced data.
    """
    rng = random.Random(seed)
    nt = g["ntimes"]
    nfreq = g["ncoarse"] * g["nfine"]
    while True:
        start = rng.randrange(2, nt - 4)
        end = rng.randrange(start + 2, min(start + 6, nt - 2))
        streak = rng.randrange(2, nt - 2)
        if streak < start - 2 or streak > end + 2:
            return dict(tone_freq=rng.randrange(nfreq), tone_start=start, tone_end=end,
                        streak_time=streak)


def expected_flags(g, p):
    """The flagged (time, freq index, pol) cells of the time-differenced
    observation: the tone's two edges and both rows the streak touches, in
    every polarisation (the expectation MwaPipelineSpec pins)."""
    nfreq = g["ncoarse"] * g["nfine"]
    cells = set()
    for pol in POLS[:g["npols"]]:
        cells.add((p["tone_start"] - 1, p["tone_freq"], pol))
        cells.add((p["tone_end"], p["tone_freq"], pol))
        for t in (p["streak_time"] - 1, p["streak_time"]):
            for f in range(nfreq):
                cells.add((t, f, pol))
    return cells


def flags_digest(cells):
    keys = sorted("%d:%d:%s" % c for c in cells)
    return hashlib.sha256("\n".join(keys).encode()).hexdigest()


def expected_read(g, p, chan, t0, span):
    """Row count and vis_re sum of one pruned read, from the portable
    fixture arithmetic every writer uses (values are multiples of 1/64, so
    the sum is exact in any order)."""
    rows, total = 0, 0
    nf = g["nfine"]
    for t in range(t0, t0 + span):
        for a1 in range(g["nants"]):
            for a2 in range(a1, g["nants"]):
                for fine in range(nf):
                    f = chan * nf + fine
                    for pi in range(g["npols"]):
                        sky = (a1 * 7 + a2 * 11 + f * 3 + pi * 17) % 64
                        noise = (t * 37 + a1 * 13 + a2 * 29 + f * 53 + pi * 71) % 128 - 64
                        v = sky * 64 + noise
                        if f == p["tone_freq"] and p["tone_start"] <= t <= p["tone_end"]:
                            v += int(TONE_AMP * 64)
                        if t == p["streak_time"]:
                            v += int(STREAK_AMP * 64)
                        rows += 1
                        total += v
    return rows, total / 64.0


def curation_inputs(cache):
    d = cache / "curation"
    if not (d / "_ROWS").exists():
        shutil.rmtree(d, ignore_errors=True)
        rows = tables.write(str(d))
        (d / "_ROWS").write_text(str(rows))
    return d, int((d / "_ROWS").read_text())


# ------------------------------------------------------------------ build

def source_hash():
    h = hashlib.sha256()
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles the program and the runner; returns (classpath, hash)."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError("the program's sources (build.sbt, src/main/scala) are not "
                         "next to perfbench/")
    digest = source_hash()
    stamp = BUILD / "stamp.json"
    if stamp.exists():
        s = json.loads(stamp.read_text())
        if s.get("hash") == digest:
            return s["classpath"], digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=%s" % repos]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=840,
                         stdin=subprocess.DEVNULL)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("/")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise BenchError("build failed")
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"hash": digest, "classpath": lines[-1]}))
    return lines[-1], digest


# -------------------------------------------------------------- environment

def proc_stat():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    idle = fields[3] + (fields[4] if len(fields) > 4 else 0)
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), idle, steal


def children_cpu_s():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_probe():
    """Seconds for a fixed pure-CPU loop: the machine's speed epoch, taken
    at the start and the end of every run."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return round(time.perf_counter() - t, 4)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Stamp:
    """nproc, heap, load, a CPU speed probe, and the CPU the machine spent
    on others (steal and foreign processes) while the run's JVM was alive."""

    def __init__(self):
        self.probe0 = cpu_probe()
        self.t0 = time.monotonic()
        self.stat0 = proc_stat()
        self.cpu0 = children_cpu_s()
        self.load0 = loadavg()

    def finish(self, record):
        total0, idle0, steal0 = self.stat0
        total1, idle1, steal1 = proc_stat()
        dt = max(1, total1 - total0)
        hz = os.sysconf("SC_CLK_TCK")
        ours = (children_cpu_s() - self.cpu0) * hz
        busy = dt - (idle1 - idle0) - (steal1 - steal0)
        wall = time.monotonic() - self.t0
        return {
            "nproc": cores(),
            "heap_mb": round(record.get("heap_max_mb", 0.0), 1),
            "wall_s": round(wall, 3),
            "cpu_probe_s": [self.probe0, cpu_probe()],
            "loadavg_start": self.load0,
            "loadavg_end": loadavg(),
            "steal_frac": round((steal1 - steal0) / dt, 5),
            "foreign_cpu_frac": round(max(0.0, busy - ours) / dt, 5),
        }


# ---------------------------------------------------------------- metrics

TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (percentile, value, samples). With fewer than 20 samples no
    percentile qualifies, and the maximum is reported as percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    best = None
    for q in TAIL_PERCENTILES:
        k = max(0, -(-n * q // 100) - 1)  # nearest rank
        if n - (k + 1) >= 10:
            best = (q, xs[k])
    if best is None:
        return 100, xs[-1], n
    return best[0], best[1], n


def check_record(workload, rec, g, plant, expected_mix):
    """Counts attempted, failed and wrong requests over the timed passes
    (and the set-up passes); returns (attempted, failed, wrong, notes)."""
    attempted = failed = wrong = 0
    notes = []
    want_digest = None
    if workload in ("gpubox_flags", "parquet_flags"):
        want_digest = flags_digest(expected_flags(g, plant))
        want_cells = (g["ntimes"] - 1) * g["ncoarse"] * g["nfine"] * g["npols"]
    passes = (rec["setup_passes"] + rec["warm_passes"] + rec["passes"] +
              rec["traced_passes"])
    for req in (r for p in passes for r in p):
        attempted += 1
        if req["error"] is not None:
            failed += 1
            notes.append("%s failed: %s" % (req["kind"], req["error"][:200]))
            continue
        c = req["check"]
        ok = True
        if want_digest is not None:
            ok = c["digest"] == want_digest and c["cells"] == want_cells
        elif workload == "pruned_reads":
            rows, total = expected_read(g, READS_PLANT, c["chan"], c["t0"], c["span"])
            ok = c["rows"] == rows and c["vis_re_sum"] == total
        elif workload == "curation_mix":
            ok = c["digest"] == expected_mix.get(c["query"])
        if not ok:
            wrong += 1
            notes.append("%s wrong output: %s" % (req["kind"], json.dumps(c)[:300]))
    for req in (r for p in rec.get("mix_passes", []) for r in p):
        attempted += 1
        if req["error"] is not None:
            failed += 1
            notes.append("%s failed: %s" % (req["kind"], req["error"][:200]))
        elif req["check"]["digest"] != expected_mix.get(req["kind"]):
            wrong += 1
            notes.append("%s wrong output: %s" % (req["kind"], req["check"]["digest"]))
    return attempted, failed, wrong, notes


def end_to_end(rec):
    lat = [r["lat_ms"] for p in rec["passes"] for r in p]
    walls = rec["pass_wall_s"]
    q, tail_ms, n = tail(lat)
    m = {
        "setup_s": (statistics.median(rec["setup_s"]), "s"),
        "mvis_per_s": (rec["rows_per_pass"] / statistics.median(walls) / 1e6, "Mvis/s"),
        "read_p50_ms": (statistics.median(lat), "ms"),
        "read_tail_ms": (tail_ms, "ms"),
        "mix_wall_s": (statistics.median(walls), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    return m, {"tail_percentile": q, "tail_samples": n,
               "tail_beyond": n - sum(1 for x in lat if x <= tail_ms)}


def failed_fraction(bad, attempted, probe):
    """(failed + wrong-output requests) / attempted, where the untimed
    default-configuration probe counts as one more attempt."""
    probe = probe or {}
    return (bad + (1 if probe.get("failed") else 0)) / max(1, attempted + (1 if probe else 0))


def per_layer(workload, rec, declared, attempted, bad):
    probe = rec.get("probe") or {}
    layers = dict(rec["layers"])
    layers["failed_frac"] = failed_fraction(bad, attempted, probe)
    layers["mwa.default_config_failures"] = 1.0 if probe.get("failed") else 0.0
    out = {}
    for name, unit in declared:
        applies = name.startswith(LAYERS[workload])
        if applies and name not in layers:
            raise BenchError("traced run did not measure %s" % name)
        out[name] = (float(layers[name]) if applies else 0.0, unit)
    return out


def declared_metrics(key):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec[key]]


# -------------------------------------------------------------------- run

def java_command(classpath, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=%s" % (work / "tmp"),
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main"]
    return cmd + ["%s=%s" % kv for kv in args.items()]


def run(workload, seed, seconds, trace, geometry="full"):
    if workload not in GEOMETRY[geometry]:
        raise BenchError("unknown workload %s" % workload)
    classpath, digest = build()
    g = GEOMETRY[geometry][workload]
    cache = WORK / ("cache-%s-%s" % (digest, geometry))
    work = WORK / ("%s-%d-t%d" % (workload, seed, trace))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = dict(workload=workload, seed=seed, seconds=seconds, trace=int(trace),
                cores=cores(), setups=SETUPS, warmup=0 if geometry == "tiny" else WARMUP_S[workload],
                work=work, **g)
    plant = None
    if workload in ("gpubox_flags", "parquet_flags"):
        plant = planted(seed, g)
        args.update(plant)
    elif workload == "pruned_reads":
        args.update(READS_PLANT, inputs=cache / "pruned")
        if trace:
            mix_dir, mix_rows = curation_inputs(cache)
            args.update(mix_inputs=mix_dir, mix_rows=mix_rows)
    else:
        mix_dir, mix_rows = curation_inputs(cache)
        args.update(inputs=mix_dir, table_rows=mix_rows)
    expected_mix = json.loads((HERE / "curation_expected.json").read_text())

    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    stamp = Stamp()
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(java_command(classpath, work, args), cwd=work, env=env,
                                stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=170)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result = work / "result.json"
    if code != 0 or not result.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise BenchError("the benchmark JVM exited with %s" % code)
    rec = json.loads(result.read_text())
    env_stamp = stamp.finish(rec)

    attempted, failed, wrong, notes = check_record(workload, rec, g, plant, expected_mix)
    probe = rec.get("probe") or {}
    if trace:
        metrics = per_layer(workload, rec, declared_metrics("per_layer"), attempted,
                            failed + wrong)
        extra = {}
    else:
        metrics, extra = end_to_end(rec)
        declared = [n for n, _ in declared_metrics("end_to_end")]
        metrics = {k: metrics[k] for k in declared}
    side = {
        "workload": workload, "seed": seed, "trace": int(trace), "env": env_stamp,
        "setup_runs_s": rec["setup_s"], "passes": len(rec["passes"]),
        "generate_s": rec["generate_s"], "prep_s": rec["prep_s"],
        "failed_frac": failed_fraction(failed + wrong, attempted, probe),
        "default_config_probe": probe or None, "notes": notes[:10], **extra,
    }
    if trace:
        side["tracing_overhead_frac"] = rec["layers"].get("trace.overhead_frac")
    (WORK / "runs").mkdir(parents=True, exist_ok=True)
    (WORK / "runs" / ("%s-%d-t%d.json" % (workload, seed, trace))).write_text(
        json.dumps({"stamp": side, "metrics": metrics}, indent=1))
    shutil.rmtree(work / "raw", ignore_errors=True)
    shutil.rmtree(work / "store", ignore_errors=True)
    shutil.rmtree(work / "tmp", ignore_errors=True)
    print(json.dumps({"stamp": side}))
    return {
        "correct": wrong == 0,
        "attempted": attempted,
        "failed": failed + wrong,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--geometry", choices=sorted(GEOMETRY), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    a = ap.parse_args(argv)
    try:
        out = run(a.workload, a.seed, a.seconds, bool(a.trace), a.geometry)
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
