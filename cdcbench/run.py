"""The transcript-CDC benchmark: one workload, one seed, one process.

    python3 cdcbench/run.py --workload cow_merge --seed 1 --seconds 20 --trace 0
    python3 cdcbench/run.py --workload mor_trickle --seed 1 --seconds 1 --trace 1 --toy

Run from the repository root. The feed is generated from ``--seed`` before
anything is timed; the engine sees only the feed's parquet files. Set-up
(Spark session start and a warmup replay) is timed as ``setup_s``. Then
at least three whole rounds run, and more until ``--seconds`` have passed,
each on a fresh table: ingest, full reads, point reads, maintenance,
checks. Every output is checked against a DuckDB replay of the feed
(cdcbench/oracle.py). The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end with
``--trace 0``, per-layer with ``--trace 1``, as listed in BENCHMARK.json).
All scratch files live under ``.cdcbench_work/`` in the working directory.
See cdcbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from oracle import (  # noqa: E402
    Oracle,
    bytes_of,
    ledger_faults,
    live_files,
    parquet_bytes,
    read_manifests,
    self_test,
)
from tracing import EventLog, Spans  # noqa: E402

# Feed shape of bench.py's replay: ~1.44 events per key.
DEFAULT_FEED = dict(
    avg_turns=10, update_ratio=0.35, delete_ratio=0.08, absent_delete_ratio=0.01,
    zipf_s=1.2, out_of_order_fraction=0.2, evolution_at=0.6,
)


@dataclass(frozen=True)
class Workload:
    storage: str
    conversations: int  # feed size; events ~= conversations * 14.4 at DEFAULT_FEED
    epochs: int  # epochs per replay; epoch_events = ceil(events / epochs)
    compact: bool = False  # maintenance compacts (after the reads) before expire()
    # Reads per round: full reads, and sets of four point reads. More where
    # a single read is short and its wall spreads between runs.
    full_reads: int = 1
    point_sets: int = 1


WORKLOADS = {
    "cow_merge": Workload("cow", 8300, 3, full_reads=10, point_sets=2),
    "mor_trickle": Workload("mor", 560, 4, compact=True),
}
MIN_ROUNDS = 3
TOY_SCALE = 20  # --toy divides conversations by this, caps epochs at 3, runs one round
WARM_FEED = dict(n_conversations=60, seed=7, events_per_file=500)
N_BUCKETS = 8


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


class RoundFailed(Exception):
    """An operation raised; the rest of the round is counted as failed."""


class Bench:
    def __init__(self, name: str, wl: Workload, args, work: str):
        self.name, self.wl, self.args, self.work = name, wl, args, work
        self.toy = args.toy
        self.trace = bool(args.trace)
        self.spans = Spans()
        self.attempted = self.failed = 0
        self.faults: list[str] = []
        self.rounds: list[dict] = []
        self.last_job = None  # the newest round that completed; its table is kept
        self.kernel_rates: dict = {}
        self.slots = min(3, len(os.sched_getaffinity(0)))

    # ---------- inputs ----------

    def make_feed(self) -> None:
        """Inputs, before set-up: the feed from --seed and its replay."""
        from transcript_cdc.datagen import StreamSpec, write_change_feed

        conv = self.wl.conversations // (TOY_SCALE if self.toy else 1)
        self.epochs = min(self.wl.epochs, 3) if self.toy else self.wl.epochs
        spec = StreamSpec(
            n_conversations=conv, seed=self.args.seed,
            events_per_file=max(1000, conv * 2), **DEFAULT_FEED,
        )
        self.feed = os.path.join(self.work, "feed")
        with self.spans.span("inputs.feed"):
            self.events = write_change_feed(spec, self.feed)["n_events"]
        with self.spans.span("inputs.oracle"):
            self.oracle = Oracle(self.feed)
        if self.oracle.max_lsn != self.events - 1:
            raise RuntimeError("feed LSNs are not 0..n-1")

    def config(self, events: int, epochs: int):
        from transcript_cdc.plans.ingest import IngestConfig

        return IngestConfig(
            storage=self.wl.storage, n_buckets=N_BUCKETS,
            epoch_events=math.ceil(events / epochs),
            write_partitions=2 * self.slots,
        )

    # ---------- set-up ----------

    def setup(self) -> None:
        from transcript_cdc.datagen import StreamSpec, write_change_feed
        from transcript_cdc.plans.ingest import CdcIngestJob
        from transcript_cdc.session import get_spark

        warm_feed = os.path.join(self.work, "warm_feed")
        warm_events = write_change_feed(StreamSpec(**WARM_FEED), warm_feed)["n_events"]
        conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData -Xmn512m",
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.spans.span("setup"):
            with self.spans.span("session.start"):
                self.spark = get_spark(
                    f"cdcbench-{self.name}", master=f"local[{self.slots}]",
                    shuffle_partitions=2 * self.slots, extra_conf=conf,
                )
                self.spark.sparkContext.setLogLevel("ERROR")
            # The warmup replays a small feed in two epochs through the
            # workload's own code paths (a first epoch and a merge, the
            # pipelined loop, a compaction, reads, expire) so that timed
            # rounds do not pay first-call costs.
            job = CdcIngestJob(
                self.spark, warm_feed, os.path.join(self.work, "warm_table"),
                self.config(warm_events, 2),
            )
            if self.toy:  # a toy run tests the checks, not the timings
                return
            with self.spans.span("ingest.warmup"):
                job.run()
            with self.spans.span("setup.warm_reads_maintenance"):
                job.final_state().toArrow()
                job.table.read_conversation(self.spark, "conv-00000001").toArrow()
                if self.wl.compact:
                    job.table.compact(self.spark, write_partitions=2 * self.slots)
                job.table.expire()

    # ---------- one round ----------

    def op(self, fn):
        """Run one operation; an exception fails it and ends the round."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # the benchmark reports, never crashes
            self.failed += 1
            self.faults.append(f"{getattr(fn, '__name__', fn)}: {e!r}"[:500])
            raise RoundFailed from e

    def check(self, what: str, faults) -> None:
        if faults:
            self.faults.append(f"{what}: {faults}"[:500])

    def run_round(self, i: int, sample: list[str]) -> None:
        from transcript_cdc.plans.ingest import CdcIngestJob

        root = os.path.join(self.work, f"table{i}")
        r: dict = {"full_read_s": [], "point_s": [], "point_files": [],
                   "bucket_of_s": [], "files_for_key_s": []}
        # operations of a round: the replay's epochs, the full reads, the
        # point reads, compaction where the workload has it, expire, then
        # five checks
        planned = self.epochs + self.wl.full_reads + len(sample) + self.wl.compact + 1 + 5
        done = self.attempted
        try:
            with self.spans.span("round", index=i):
                job = CdcIngestJob(self.spark, self.feed, root, self.config(self.events, self.epochs))
                with self.spans.span("ingest.replay") as sp:
                    results = self.op(job.run)
                self.attempted += len(results) - 1  # one operation per epoch
                self.failed += sum(1 for e in results if not e.get("committed"))
                r["replay_s"] = sp["end"] - sp["start"]
                r["epoch_s"] = [e["seconds"] for e in results]
                r["written"] = parquet_bytes(root)
                manifests = read_manifests(root)
                # which dedup plan each ingest epoch ran; compactions as such
                r["plans"] = sp["plans"] = [
                    m["metrics"].get("dedup") or m["metrics"].get("mode") for m in manifests
                ]
                r["manifest_bytes"] = sum(
                    os.path.getsize(os.path.join(root, "_commits", f))
                    for f in os.listdir(os.path.join(root, "_commits"))
                )
                live = live_files(manifests)
                r["live_files"] = len(live)
                r["live_bytes"] = bytes_of(root, live)

                fulls = []
                for _ in range(self.wl.full_reads):
                    with self.spans.span("lake.full_read") as sp:
                        fulls.append(self.op(lambda: job.final_state().toArrow()))
                    r["full_read_s"].append(sp["end"] - sp["start"])
                points = []
                for cid in sample:
                    if self.trace:
                        with self.spans.span("lake.bucket_of") as sb:
                            b = job.table.bucket_of(self.spark, cid)
                        with self.spans.span("lake.files_for_key") as sf:
                            r["point_files"].append(len(job.table.files_for_key(cid, b)))
                        r["bucket_of_s"].append(sb["end"] - sb["start"])
                        r["files_for_key_s"].append(sf["end"] - sf["start"])
                    with self.spans.span("lake.point_read", conv_id=cid) as sp:
                        points.append(self.op(
                            lambda: job.table.read_conversation(self.spark, cid).toArrow()
                        ))
                    r["point_s"].append(sp["end"] - sp["start"])
                if self.wl.compact:
                    with self.spans.span("lake.compact"):
                        self.op(lambda: job.table.compact(
                            self.spark, write_partitions=2 * self.slots))
                pre_expire = ledger_faults(root, self.oracle.max_lsn, expired=False)
                with self.spans.span("lake.expire"):
                    self.op(job.table.expire)
                r["manifests"] = read_manifests(root)

                with self.spans.span("check"):
                    self.op(lambda: self.check("final_state rows", [
                        n for full in fulls if (n := self.oracle.mismatches(full))
                    ]))
                    self.op(lambda: self.check("point reads", {
                        cid: n for cid, p in zip(sample, points)
                        if (n := self.oracle.mismatches(p, cid))
                    }))
                    self.op(lambda: self.check("lake files", self.oracle.lake_mismatches(
                        root, self.wl.storage == "mor")))
                    self.op(lambda: self.check("ledger before expire", pre_expire))
                    self.op(lambda: self.check("ledger after expire", ledger_faults(
                        root, self.oracle.max_lsn, expired=True)))
                    if len(results) != self.epochs:
                        self.faults.append(f"{len(results)} epochs, expected {self.epochs}")
        except RoundFailed:
            missing = planned - (self.attempted - done)
            self.attempted += max(0, missing)
            self.failed += max(0, missing)
            shutil.rmtree(root, ignore_errors=True)
            return
        self.rounds.append(r)
        if self.last_job is not None:
            shutil.rmtree(self.last_job.table.root, ignore_errors=True)
        self.last_job = job

    # ---------- the run ----------

    def run(self) -> dict:
        self.make_feed()
        self.setup()
        rng = random.Random(self.args.seed)
        # At least MIN_ROUNDS, so that the median over rounds is never
        # pulled by the first round, which still warms the JIT.
        t0 = time.time()
        i = 0
        min_rounds = 1 if self.toy else MIN_ROUNDS
        while i < min_rounds or time.time() - t0 < self.args.seconds:
            self.run_round(i, [
                cid for _ in range(self.wl.point_sets) for cid in self.oracle.point_read_ids(rng)
            ])
            i += 1
        if self.trace and self.rounds:
            with self.spans.span("kernels"):
                self.kernels()
        try:
            with self.spans.span("selftest"):
                undetected = self.op(lambda: self_test(
                    self.oracle, self.last_job.table.root, self.work, self.wl.storage == "mor"
                ))
            self.check("self-test left undetected", undetected)
        except RoundFailed:
            pass
        rss_mb = self.jvm_peak_rss_mb()
        with self.spans.span("stop"):
            self.stop_spark()
        if self.trace:
            return self.layer_metrics()
        return self.e2e_metrics(rss_mb)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM in /proc status")

    def stop_spark(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python worker
        daemon, which exits when the JVM does) to end."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    # ---------- metrics ----------

    def e2e_metrics(self, rss_mb: float) -> dict:
        rs = self.rounds
        setup = self.spans.named("setup")[0]
        return {
            "ingest_eps": _median(self.events / r["replay_s"] for r in rs),
            "epoch_p50_s": _median(s for r in rs for s in r["epoch_s"]),
            "full_read_s": _median(s for r in rs for s in r["full_read_s"]),
            "point_read_p50_s": _median(s for r in rs for s in r["point_s"]),
            "written_bytes_per_event": _median(r["written"] / self.events for r in rs),
            "lake_bytes_per_live_row": _median(r["live_bytes"] / self.oracle.rows for r in rs),
            "setup_s": setup["end"] - setup["start"],
            "jvm_peak_rss_mb": rss_mb,
        }

    def layer_metrics(self) -> dict:
        rs = self.rounds
        log = EventLog(os.path.join(self.work, "eventlog"))
        replays = self.spans.named("ingest.replay")
        epochs = sum(len(r["epoch_s"]) for r in rs) or 1
        mevents = self.events * len(replays) / 1e6 or 1
        ing = log.fold(replays)
        reads = [log.fold([sp]) for sp in self.spans.named("lake.full_read")]
        ms = [m for r in rs for m in r["manifests"]]
        ingest_ms = [m["metrics"] for m in ms if "duration_prepare_s" in m["metrics"]]
        cow = [m for m in ingest_ms if "files_rewritten" in m]
        rewritten = sum(m["files_rewritten"] for m in cow)
        kept = sum(m["files_kept"] for m in cow)
        out = {
            "session.start_s": self.spans.walls("session.start")[0],
            "ingest.warmup_s": _median(self.spans.walls("ingest.warmup")),
            "ingest.prepare_s_p50": _median(m["duration_prepare_s"] for m in ingest_ms),
            "ingest.driver_gap_s_per_epoch": (ing["wall_s"] - ing["stage_covered_s"]) / epochs,
            "ingest.jobs_per_epoch": ing["jobs"] / epochs,
            "ingest.task_cpu_s_per_mevent": ing["cpu_s"] / mevents,
            "ingest.gc_s_per_mevent": ing["gc_s"] / mevents,
            "ingest.input_bytes_per_event": ing["input_bytes"] / mevents / 1e6,
            "ingest.shuffle_bytes_per_event": ing["shuffle_write_bytes"] / mevents / 1e6,
            "ingest.spill_bytes_per_event": ing["spill_bytes"] / mevents / 1e6,
            "ingest.task_skew": ing["task_skew"],
            "dedup.broadcast_epochs": _median(
                sum(1 for m in r["manifests"] if m["metrics"].get("dedup") == "broadcast")
                for r in rs
            ),
            "lake.write_s_p50": _median(m["write_seconds"] for m in ingest_ms),
            "lake.commit_stats_s_p50": _median(m["commit_stats_seconds"] for m in ingest_ms),
            "lake.manifest_bytes": _median(r["manifest_bytes"] for r in rs),
            "lake.cow_files_rewritten_per_epoch": rewritten / len(cow) if cow else 0.0,
            "lake.cow_files_kept_share": kept / (kept + rewritten) if kept + rewritten else 0.0,
            "lake.compact_write_s_p50": _median(
                m["metrics"]["write_seconds"] for m in ms
                if m["metrics"].get("mode") == "compaction"
            ),
            "lake.live_files": _median(r["live_files"] for r in rs),
            "lake.bucket_of_s_p50": _median(s for r in rs for s in r["bucket_of_s"]),
            "lake.files_for_key_s_p50": _median(s for r in rs for s in r["files_for_key_s"]),
            "lake.point_files_p50": _median(n for r in rs for n in r["point_files"]),
            "lake.full_read_task_cpu_s": _median(f["cpu_s"] for f in reads),
            **self.kernel_rates,
        }
        self.traced_ingest_eps = _median(self.events / r["replay_s"] for r in rs)
        return out

    # ---------- traced-only layer kernels ----------

    def kernels(self) -> None:
        """Self time of a layer: a noop-sink pass over cached input with the
        layer, minus the same pass over the same input without it; the
        median of three of each. The input is the second epoch's LSN
        window, deduplicated with the plan that epoch's manifest records.
        The merge kernel runs on copy-on-write only: merge-on-read never
        merges, and its rate stays 0."""
        from transcript_cdc import schemas
        from transcript_cdc.functions.normalize import normalize_text
        from transcript_cdc.operators.dedup import lww_dedup, lww_dedup_clustered
        from transcript_cdc.operators.merge import merge_apply
        from transcript_cdc.operators.skew import salted_repartition
        from transcript_cdc.sources.changes import ChangeFeed
        from transcript_cdc.sources.lake import BUCKET_COL, bucket_expr

        def noop_s(df, name):
            walls = []
            for _ in range(3):
                with self.spans.span(name) as sp:
                    df.write.format("noop").mode("overwrite").save()
                walls.append(sp["end"] - sp["start"])
            return statistics.median(walls)

        def rate(rows, with_layer, base):
            return rows / max(with_layer - base, 1e-3)

        ee = math.ceil(self.events / self.epochs)
        lo, hi = ee - 1, min(2 * ee, self.events) - 1  # the second epoch's window
        feed = ChangeFeed(self.spark, self.feed)
        rows = hi - lo
        scan = noop_s(feed.read_range(lo, hi), "kernel.changes.scan")
        batch = feed.read_range(lo, hi).cache()
        batch.count()
        base = noop_s(batch, "kernel.base")
        norm = noop_s(batch.withColumn("text", normalize_text("text")), "kernel.normalize")
        strategy = self.rounds[-1]["plans"][1]
        if strategy == "clustered":
            # As the merge-on-read epoch runs it: the window rides the
            # write-clustering exchange on the bucket column, which the
            # base pass pays too. The lagged salt stays 1 at these sizes.
            clustered = salted_repartition(
                batch.withColumn(BUCKET_COL, bucket_expr(N_BUCKETS)), [BUCKET_COL], 1,
                num_partitions=2 * self.slots,
            )
            dedup_base = noop_s(clustered, "kernel.dedup.base")
            deduped = lww_dedup_clustered(
                clustered, schemas.KEY_COLS, schemas.LSN_COL, [BUCKET_COL]
            )
        else:
            dedup_base = base
            deduped = lww_dedup(batch, schemas.KEY_COLS, schemas.LSN_COL, strategy)
        dedup = noop_s(deduped, "kernel.dedup")
        self.kernel_rates = {
            "changes.scan_rows_per_s": rows / scan,
            "dedup.rows_per_s": rate(rows, dedup, dedup_base),
            "normalize.rows_per_s": rate(rows, norm, base),
        }
        if self.wl.storage == "cow":
            winners = deduped.cache()
            snapshot = self.last_job.final_state().cache()
            n_merge = winners.count() + snapshot.count()
            merge_base = noop_s(
                snapshot.unionByName(winners.drop("op", "lsn"), allowMissingColumns=True),
                "kernel.merge.base",
            )
            merge = noop_s(merge_apply(snapshot, winners, broadcast_batch=True), "kernel.merge")
            self.kernel_rates["merge.rows_per_s"] = rate(n_merge, merge, merge_base)
            winners.unpersist()
            snapshot.unpersist()
        batch.unpersist()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny feed; checks run in seconds")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "transcript_cdc")):
        print(f"transcript_cdc not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(os.getcwd(), ".cdcbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    # Everything Spark and Python write goes under the work dir; options
    # inherited from the caller's environment must not change the engine.
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"),
    )
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_TMPFS", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(var, None)

    bench = Bench(args.workload, WORKLOADS[args.workload], args, work)
    try:
        metrics = bench.run()
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
            bench.spans.write(path)
            print(json.dumps({"trace": path, "traced_ingest_eps": bench.traced_ingest_eps}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"phases_s": {
        r["name"]: r["end"] - r["start"] for r in bench.spans.records if r["parent"] is None
        and r["name"] != "round"
    } | {"rounds": bench.spans.walls("round")}}))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if bench.faults:
        print(json.dumps({"faults": bench.faults}))
    print(json.dumps({
        "correct": not bench.faults,
        "attempted": bench.attempted,
        "failed": bench.failed,
        # a metric is missing only when no round completed (correct is false)
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]} for m in spec
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
