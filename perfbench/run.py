#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload transit_city --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. It builds the program and the harness from
source (perfbench/build.py; cached until a source file changes), generates
the workload's inputs from the seed, runs perfbench.Main in one JVM on
local[4], checks the outputs and prints, as the last line of standard output,
one JSON object with the keys correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the spans are written beside the run record under
.bench_work/records/. Exits 1 when an operation or an output check failed,
2 when the program's sources or the fixture are missing or do not build,
and 3 when the JVM fails or overruns its time limit.

    python3 perfbench/run.py --record-expected perfbench/registry_expected.json \
        --queries q1,q2,...

records the expected row counts and fingerprints of the registry queries
(only after tools/oracle_check.py passes on the same fixture).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from datetime import datetime, timezone
from pathlib import Path

from build import BuildError, build

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_work"
DATA = BENCH / "data" / "sf0.01"
EXPECTED = BENCH / "registry_expected.json"
WORKLOADS = ("transit_city", "registry_sf0.01")
TIME_LIMIT_S = 170

REPORTED_UNITS = {
    "setup_s": "s", "failed_frac": "1", "events_per_s": "1/s", "freshness_p50_s": "s",
    "freshness_tail_s": "s", "total_s": "s", "query_p50_s": "s", "query_p95_s": "s"}
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# -XX:TieredStopAtLevel=1 keeps the JIT at C1: a run lasts about a minute,
# and C2's compile wave over that minute doubled the run-to-run spread on
# this 4-core box. Both workloads are bound by job scheduling, not by
# per-row code.
JVM_FLAGS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-Dspark.ui.enabled=false",
    *[f for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
                  "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar")
      for f in ("--add-opens", f"{p}=ALL-UNNAMED")],
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- inputs -----------------------------------------------------------------

def check_fixture():
    """The registry fixture must match its recorded content hashes."""
    sums = DATA / "SHA256SUMS"
    for line in sums.read_text().splitlines():
        digest, name = line.split()
        if hashlib.sha256((DATA / name).read_bytes()).hexdigest() != digest:
            log(f"fixture file {DATA / name} does not match {sums}")
            sys.exit(2)


BASE_MS = 1704096000000  # 2024-01-01T08:00:00Z
TYPES = ("Bus", "Taxi", "Train", "Metro", "Scooter")
TICKS_PER_CHUNK = 240    # 2-minute ticks: 1,200 routes + 2,880 trips, 8 h of event time
PASSENGERS = 5_000_000


def iso(ms):
    return datetime.fromtimestamp(ms // 1000, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S") + f".{ms % 1000:03d}Z"


def record(key, value, ms):
    return json.dumps({"key": key, "value": json.dumps(value, separators=(",", ":")),
                       "ts": iso(ms)}, separators=(",", ":")) + "\n"


def generate_transit(seed, out, n_chunks):
    """The reference's scenario recipe (graft.sources.ScenarioGenerator):
    5 routes per 2-minute tick, one trip per 10 s copying one of the last
    100 routes emitted before it, 5 types, 5 operators; passengers are drawn
    from millions. Each chunk holds the routes and trips of the same span."""
    rnd = random.Random(seed)
    recent, route_no, trip_no = [], 0, 0
    for c in range(n_chunks):
        d = out / f"chunk-{c:04d}"
        d.mkdir(parents=True)
        routes, trips = [], []
        for t in range(c * TICKS_PER_CHUNK, (c + 1) * TICKS_PER_CHUNK):
            tick_ms = BASE_MS + t * 120_000
            for _ in range(5):
                route_no += 1
                r = {"routeId": f"Route_{route_no}", "origin": f"Origin_{rnd.randrange(10)}",
                     "destination": f"Destination_{rnd.randrange(10)}",
                     "transportType": TYPES[rnd.randrange(5)],
                     "capacity": 50 + rnd.randrange(200), "operator": f"Operator_{rnd.randrange(5)}"}
                recent = (recent + [r])[-100:]
                routes.append(record(r["routeId"], r, tick_ms))
            for k in range(12):
                trip_no += 1
                src = recent[rnd.randrange(len(recent))]
                trip = {"tripId": f"Trip_{trip_no}", "routeId": src["routeId"],
                        "origin": src["origin"], "destination": src["destination"],
                        "transportType": src["transportType"],
                        "passengerName": f"Passenger_{rnd.randrange(PASSENGERS)}"}
                trips.append(record(trip["tripId"], trip, tick_ms + k * 10_000))
        (d / "routes.json").write_text("".join(routes))
        (d / "trips.json").write_text("".join(trips))


# ---- run --------------------------------------------------------------------

def provenance(stamp):
    commit = None
    if (ROOT / ".git").exists():  # not a parent directory's repository
        try:
            commit = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_commit": commit, "source_sha256": stamp, "nproc": os.cpu_count(),
            "python": sys.version.split()[0], "jvm_flags": JVM_FLAGS}


def latest_untraced(workload):
    recs = sorted((WORK / "records").glob(f"{workload}-*-t0-c4-*[0-9].json"),
                  key=lambda p: p.stat().st_mtime)
    return json.loads(recs[-1].read_text()) if recs else None


def run_jvm(cp, args, work, deadline):
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
           *args, "--work", str(work)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, encoding="utf-8", errors="replace")
        try:
            out, _ = proc.communicate(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"the JVM did not finish in time; see {work / 'jvm.log'}")
            sys.exit(3)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        log(f"the JVM failed (exit {proc.returncode}); see {work / 'jvm.log'}")
        sys.exit(3)
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4, help="local[n] cores; 1 for the baseline")
    ap.add_argument("--record-expected")
    ap.add_argument("--queries")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"the program's sources are missing under {ROOT}")
        sys.exit(2)
    check_fixture()
    try:
        cp, stamp, built = build()
    except BuildError as e:
        log(f"build failed: {e}")
        sys.exit(2)
    # a run that had to build gets its time limit from the end of the build
    deadline = (time.monotonic() if built else t_start) + TIME_LIMIT_S
    if a.record_expected:
        deadline += 3600

    if a.record_expected:
        work = WORK / "record-expected"
        shutil.rmtree(work, ignore_errors=True)
        run_jvm(cp, ["--record-expected", str(Path(a.record_expected).resolve()),
                     "--queries", a.queries, "--data", str(DATA)], work, deadline)
        return
    if a.workload is None:
        ap.error("--workload is required")

    work = WORK / f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cores}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores), "--data", str(DATA)]
    if a.workload == "transit_city":
        # one untimed chunk and more timed ones than the window can take
        generate_transit(a.seed, work / "inputs", 1 + max(4, a.seconds // 8 + 2))
        args += ["--inputs", str(work / "inputs")]
    else:
        args += ["--expected", str(EXPECTED)]
    res = run_jvm(cp, args, work, deadline)

    rec = dict(res, provenance=dict(res["provenance"], **provenance(stamp)))
    if a.trace:
        base = latest_untraced(a.workload)
        rec["trace_overhead"] = None if base is None else {
            k: v - base["end_to_end"][k] for k, v in res["end_to_end"].items()}
    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-c{a.cores}-{int(time.time())}"
    (records / f"{name}.json").write_text(json.dumps(rec, indent=1))
    if a.trace:
        shutil.copy(work / "spans.json", records / f"{name}.spans.json")
    shutil.copy(work / "jvm.log", records / f"{name}.log")
    shutil.rmtree(work, ignore_errors=True)

    bad = [c for c in res["checks"] if not c["ok"]]
    for c in bad:
        print(f"FAILED {c['name']}: {c['detail']}")
    print(f"checks: {len(res['checks']) - len(bad)}/{len(res['checks'])} passed; "
          f"operations attempted {res['attempted']}, failed {res['failed']}")
    for k, v in res["reported"].items():
        if k in REPORTED_UNITS:
            print(f"{k} = {v} {REPORTED_UNITS[k]}")
    if a.trace:
        print(f"trace overhead vs the latest untraced run: {rec['trace_overhead']}")
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in SPEC["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["end_to_end"][m["name"]], "unit": m["unit"]}
                   for m in SPEC["end_to_end"]}
    correct = res["failed"] == 0 and not bad
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
