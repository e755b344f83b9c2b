"""Multi-process writer contention probe (r8, r6-verdict task 3).

N OS PROCESSES (separate JVMs — real processes, not threads) maintain
the SAME catalog cube concurrently, each from its own CDC shard, while
the parent runs a concurrent snapshot reader and a grace-windowed
vacuum. This certifies the catalog's optimistic-concurrency design
(cube/catalog.py: writer-unique data dirs + manifest CAS + rebase +
read_version fencing) under genuine cross-process interleaving, which
no single-process test can produce.

Topology (the realistic one — a Kafka-partitioned CDC feed):
  - documents are sharded across writers by id-hash, so per-document
    ordering (insert < update < delete) holds WITHIN a writer — the
    guarantee any partitioned log gives. Day-partitions of the cube
    still overlap heavily ACROSS writers, so concurrent commits race
    on the same manifest version and frequently on the same
    partitions: the read_version fence refuses, the writer re-reads /
    re-merges / re-commits (the documented retry contract).
  - each writer has its own stream_id; the manifest's per-stream
    watermark map makes replays no-ops per writer.

Asserted done-criteria:
  (a) ZERO lost updates: the final maintained cube is hash-equal to a
      from-scratch rebuild of the net document state (serial-replay
      oracle — additive measures make serial replay == net rebuild);
  (b) reader sees zero violations: for every observed snapshot, the
      pinned (version, per-stream watermarks) predict the cube's total
      multiplicity exactly (sum over streams of that stream's cum
      delta at its watermark);
  (c) bounded retries: no writer needed more than --retry-budget
      read-merge-commit attempts for any single batch;
  (d) completeness: every writer applied all its batches (final
      per-stream watermarks == last batch id).

Usage:
    python tools/contention_probe.py [--writers 3] [--batches 60]
        [--src /root/testdata/sf0.01] [--root /tmp/contention_root]
        [--out CONTENTION_PROBE.json]

Prints ONE final JSON line; exits nonzero if any invariant fails.
Run it idle (no concurrent pytest/bench) per the repo's protocol.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

CUBE = "cont_cube"
SHARD_SEED = 17  # xxhash64(event_id, SEED) % writers -> writer shard


def shard_col(writers: int):
    return F.pmod(F.xxhash64("event_id", F.lit(SHARD_SEED)), F.lit(writers))


def make_spec():
    from mongo_olap_spark.cube import CubeSpec, Dimension, Measure

    return CubeSpec(
        name=CUBE,
        source="events",
        dimensions=(
            Dimension("event_type"),
            Dimension("day", path="ts", granularity="day"),
            Dimension("ubucket", path="pmod(user_id, 500)"),
        ),
        measures=(
            Measure("n", "count"),
            Measure("total_value", "sum", "value"),
            Measure("avg_value", "avg", "value"),
        ),
    )


# ---------------------------------------------------------------------------
# worker process: one maintainer, one CDC shard, retry-on-conflict
# ---------------------------------------------------------------------------

def worker_main(args) -> int:
    from mongo_olap_spark.cube.catalog import CommitConflict, CubeCatalog
    from mongo_olap_spark.session import get_spark
    from mongo_olap_spark.streaming.pipeline import CubeMaintainer

    spark = get_spark(f"contention_w{args.worker}", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    catalog = CubeCatalog(spark, args.root)
    maint = CubeMaintainer(catalog, CUBE, stream_id=f"w{args.worker}")
    cdc = spark.read.parquet(args.cdc).filter(
        shard_col(args.writers) == args.worker
    )
    rng = random.Random(1000 + args.worker)
    retries_max = retries_total = 0
    t0 = time.perf_counter()
    for k in range(args.batches):
        batch = cdc.filter(F.col("b") == k).drop("b")
        tries = 0
        while True:
            try:
                maint.apply_batch(batch, k)
                break
            except CommitConflict:
                # the documented contract: re-read current cells,
                # re-merge, re-commit (apply_batch restarts from the
                # current snapshot; the stream watermark has NOT
                # advanced, so this is not a replay skip)
                tries += 1
                if tries > args.retry_budget:
                    raise
                time.sleep(rng.uniform(0.05, 0.25) * min(tries, 4))
        retries_total += tries
        retries_max = max(retries_max, tries)
    out = {
        "worker": args.worker,
        "applied": args.batches,
        "retries_total": retries_total,
        "retries_max": retries_max,
        "wall_s": round(time.perf_counter() - t0, 1),
    }
    with open(args.worker_out, "w") as f:
        json.dump(out, f)
    print(json.dumps(out), file=sys.stderr)
    return 0


# ---------------------------------------------------------------------------
# concurrent reader: snapshot self-consistency under multi-stream
# watermarks — expected total = sum_w cum_w(watermark_w)
# ---------------------------------------------------------------------------

class MultiStreamReader(threading.Thread):
    def __init__(self, catalog, mult_col: str, cums: dict[str, dict[int, int]]):
        super().__init__(daemon=True)
        self.catalog, self.mult_col, self.cums = catalog, mult_col, cums
        self.stop_flag = threading.Event()
        self.checks = 0
        self.versions_seen: set[int] = set()
        self.violations: list[str] = []

    def expected(self, ids: dict) -> int | None:
        total = 0
        for stream, cum in self.cums.items():
            k = ids.get(stream, -1)
            if k >= 0:
                if k not in cum:
                    return None  # watermark between known batch ids
                total += cum[k]
        return total

    def run(self):
        while not self.stop_flag.is_set():
            try:
                v = self.catalog.current_version(CUBE)
                if v == 0:
                    time.sleep(0.2)
                    continue
                m = self.catalog.manifest(CUBE, v)
                if m is None:
                    continue
                want = self.expected(m.get("last_batch_ids") or {})
                if want is None:
                    continue
                got = (
                    self.catalog.cells(CUBE, version=v)
                    .agg(F.sum(self.mult_col)).first()[0]
                ) or 0
                self.checks += 1
                self.versions_seen.add(v)
                if int(got) != want:
                    self.violations.append(
                        f"v{v}: total n={got} expected {want}")
            except Exception as e:  # torn snapshot = violation
                self.violations.append(
                    f"reader exception: {type(e).__name__}: {e}")
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--writers", type=int, default=3)
    ap.add_argument("--batches", type=int, default=60)
    ap.add_argument("--src", default="/root/testdata/sf0.01")
    ap.add_argument("--root", default="/tmp/contention_root")
    ap.add_argument("--cdc", default="/tmp/contention_cdc")
    ap.add_argument("--retry-budget", type=int, default=50)
    ap.add_argument("--crashes", type=int, default=0,
                    help="kill -9 a random live writer this many times "
                         "mid-run; each is relaunched and must recover "
                         "via the per-stream watermark (replay no-ops) "
                         "and the manifest CAS (no torn commit visible)")
    ap.add_argument("--out", default="CONTENTION_PROBE.json")
    ap.add_argument("--worker", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--worker-out", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.worker is not None:
        return worker_main(args)

    import shutil

    from mongo_olap_spark.cube import build_cube, query_cube
    from mongo_olap_spark.cube.catalog import CubeCatalog
    from mongo_olap_spark.cube.ivm import row_count_col
    from mongo_olap_spark.session import get_spark
    from mongo_olap_spark.sources.tables import load_table
    from tools.soak_probe import build_cdc, net_state, rows_digest

    spark = get_spark("contention_parent", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    events = load_table(spark, args.src, "events")
    spec = make_spec()

    if not os.path.exists(os.path.join(args.cdc, "_SUCCESS")):
        build_cdc(events, args.batches).repartition("b").write.mode(
            "overwrite").partitionBy("b").parquet(args.cdc)
    cdc = spark.read.parquet(args.cdc)

    # per-(stream, batch) cumulative delta totals for the reader oracle
    per = {
        (int(r["w"]), int(r["b"])): int(r["dm"])
        for r in cdc.groupBy(
            shard_col(args.writers).alias("w"), "b"
        ).agg(F.sum("mult").alias("dm")).collect()
    }
    cums: dict[str, dict[int, int]] = {}
    for w in range(args.writers):
        cum, acc = {}, 0
        for k in range(args.batches):
            acc += per.get((w, k), 0)
            cum[k] = acc
        cums[f"w{w}"] = cum

    shutil.rmtree(args.root, ignore_errors=True)
    catalog = CubeCatalog(spark, args.root)
    catalog.create(spec, events.limit(0))

    reader = MultiStreamReader(catalog, row_count_col(spec), cums)
    reader.start()

    # grace-windowed vacuum, concurrent with writers AND the reader
    vac_stop = threading.Event()
    vac_stats = {"runs": 0, "removed": 0}

    def vacuum_loop():
        while not vac_stop.is_set():
            time.sleep(3.0)
            try:
                vac_stats["removed"] += len(
                    catalog.vacuum(CUBE, min_age_s=20.0))
                vac_stats["runs"] += 1
            except Exception as e:
                vac_stats.setdefault("errors", []).append(str(e))

    vac = threading.Thread(target=vacuum_loop, daemon=True)
    vac.start()

    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=os.environ.get("CONTENTION_WORKER_CPUS", "8"),
        SPARK_GRAFT_DRIVER_MEM="6g",
    )
    t0 = time.perf_counter()

    def launch(w: int, wout: str) -> subprocess.Popen:
        # append-mode log per writer (relaunches append): a worker that
        # dies rc!=0 must leave a diagnosable traceback, not DEVNULL
        logf = open(os.path.join("/tmp", f"contention_w{w}.log"), "ab")
        return subprocess.Popen(
            [sys.executable, os.path.abspath(__file__),
             "--worker", str(w), "--worker-out", wout,
             "--writers", str(args.writers),
             "--batches", str(args.batches),
             "--root", args.root, "--cdc", args.cdc,
             "--retry-budget", str(args.retry_budget)],
            env=env, stdout=logf, stderr=subprocess.STDOUT,
        )

    procs, wouts = [], []
    for w in range(args.writers):
        wout = os.path.join("/tmp", f"contention_w{w}.json")
        wouts.append(wout)
        if os.path.exists(wout):
            os.remove(wout)
        procs.append(launch(w, wout))

    # chaos supervision (r9, r8-verdict task 8): SIGKILL a random LIVE
    # writer mid-run — with ~1 s batches a random kill usually lands
    # inside apply_batch (merge/write/commit), sometimes inside the CAS
    # window itself — then relaunch it. The fresh JVM re-reads from
    # batch 0; the per-stream watermark no-ops everything already
    # committed and the run continues. Any torn commit, stale pointer
    # cache, or lost-update would surface in the reader thread or the
    # final serial-replay hash below.
    crash_rng = random.Random(99)
    crash_events: list[dict] = []
    crashes_left = args.crashes
    while True:
        live = [i for i, p in enumerate(procs) if p.poll() is None]
        if not live:
            break
        if crashes_left > 0:
            time.sleep(crash_rng.uniform(4.0, 10.0))
            live = [i for i, p in enumerate(procs) if p.poll() is None]
            if not live:
                break
            w = crash_rng.choice(live)
            procs[w].kill()
            procs[w].wait()
            crash_events.append(
                {"worker": w, "at_s": round(time.perf_counter() - t0, 1)})
            crashes_left -= 1
            procs[w] = launch(w, wouts[w])
        else:
            time.sleep(1.0)
    rcs = [p.wait() for p in procs]
    wall = time.perf_counter() - t0
    vac_stop.set()
    vac.join(timeout=10)
    reader.stop_flag.set()
    reader.join(timeout=30)
    vac_stats["removed"] += len(catalog.vacuum(CUBE, min_age_s=0))

    workers = []
    for wout in wouts:
        try:
            with open(wout) as f:
                workers.append(json.load(f))
        except OSError:
            workers.append(None)

    # (a) zero lost updates: maintained == from-scratch net rebuild
    cols = [*spec.dim_names, *[m.name for m in spec.measures]]
    got_digest, got_rows = rows_digest(
        query_cube(catalog.cells(CUBE), spec), cols)
    want_digest, want_rows = rows_digest(
        query_cube(build_cube(spark, spec, net_state(events)), spec), cols)

    # (d) completeness: every stream's watermark is its last batch id
    final_ids = (catalog.manifest(CUBE) or {}).get("last_batch_ids") or {}
    ok_complete = all(
        final_ids.get(f"w{w}") == args.batches - 1
        for w in range(args.writers)
    )

    ok_final = got_digest == want_digest and got_rows == want_rows
    ok_workers = all(rc == 0 for rc in rcs) and all(workers)
    ok_reader = not reader.violations
    ok_retries = ok_workers and max(
        w["retries_max"] for w in workers) <= args.retry_budget

    result = {
        "metric": "contention_probe",
        "writers": args.writers,
        "batches_per_writer": args.batches,
        "wall_s": round(wall, 1),
        "crashes": crash_events,
        "worker_rcs": rcs,
        "workers": workers,
        "conflict_retries_total": sum(
            w["retries_total"] for w in workers if w),
        "conflict_retries_max": max(
            (w["retries_max"] for w in workers if w), default=None),
        "vacuum_runs": vac_stats["runs"],
        "vacuumed_dirs": vac_stats["removed"],
        "reader_checks": reader.checks,
        "reader_versions_seen": len(reader.versions_seen),
        "reader_violations": reader.violations[:5],
        "final_rows": got_rows,
        "final_match": ok_final,
        "all_watermarks_complete": ok_complete,
        "ok": ok_final and ok_workers and ok_reader and ok_retries
        and ok_complete,
    }
    print(json.dumps(result))
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    if not result["ok"]:
        print(
            f"# FAIL: final={ok_final} workers={ok_workers} "
            f"reader={ok_reader} retries={ok_retries} complete={ok_complete}",
            file=sys.stderr,
        )
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
