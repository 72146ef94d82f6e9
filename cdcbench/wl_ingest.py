"""cdc_ingest: the replication write path.

Set-up drains a seeded ``op='r'`` snapshot through
``CdcPipeline.run_available_now`` into three fresh pipelines (the median
drain is the set-up figure).  The first copy takes the warm-up drains,
so the measured copy, built after them, starts past the JIT ramp; it
lands one change group at a time and drains it.  There are no timed
reads.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow as pa

import host
import inputs
import layout
import oracle
from harness import Run, median

N_KEYS = 100_000
FILES, EVENTS_PER_FILE = 8, 2000
DRAIN_S = 0.85  # one drain on a 4-core host: sizes the measured phase
WARM_DRAINS = 8


def _land(pipe, paths: list[str]) -> None:
    d = os.path.join(pipe.landing_dir, inputs.TABLE)
    os.makedirs(d, exist_ok=True)
    for p in paths:
        os.rename(p, os.path.join(d, os.path.basename(p)))


def run(r: Run) -> tuple[float, float]:
    drains = r.units(DRAIN_S)
    n_groups = max(drains, WARM_DRAINS)
    feed = inputs.cdc_feed(r.seed, N_KEYS, n_groups, FILES, EVENTS_PER_FILE)
    r.info["input_digests"]["cdc_feed"] = feed.digest
    r.info["sizes"] = {"keys": N_KEYS, "files": FILES, "events_per_file": EVENTS_PER_FILE,
                       "warm_drains": WARM_DRAINS}
    r.info["feed"] = {**feed.stats, "groups": n_groups, "events_per_group": FILES * EVENTS_PER_FILE}
    staged = os.path.join(r.work, "staged")

    def stage(copy: int, texts: list[str], prefix: str) -> list[str]:
        return inputs.write_files(texts, os.path.join(staged, f"c{copy}", prefix), prefix)

    r.mark("inputs")
    start_s = r.start()
    r.mark("session")
    from cdc_demo_spark.streaming.pipeline import CdcPipeline

    payloads = {inputs.TABLE: inputs.payload_schema()}
    setup: list[float] = []

    def snapshot_copy(c: int):
        pipe = CdcPipeline(r.spark, os.path.join(r.work, f"copy{c}"), payloads)
        _land(pipe, stage(c, feed.snapshot_files, "snapshot"))
        t0 = time.perf_counter()
        with r.tracer.span("setup.run_available_now"):
            pipe.run_available_now(inputs.TABLE)
        setup.append(time.perf_counter() - t0)
        return pipe

    # The measured copy is built last, right before it is measured, so
    # that its files are still young when the run deletes them.
    warm = snapshot_copy(0)
    r.discard(snapshot_copy(2).base)
    for g in range(WARM_DRAINS):
        _land(warm, stage(0, feed.groups[g].files, f"g{g:03d}"))
        with r.tracer.span("warmup.run_available_now"):
            warm.run_available_now(inputs.TABLE)
    r.discard(warm.base)
    meas = snapshot_copy(1)
    r.info["setup_drains_s"] = setup
    measured_files = [stage(1, feed.groups[g].files, f"g{g:03d}") for g in range(drains)]

    silver = meas.silver_dir(inputs.TABLE)
    dlq = os.path.join(meas.dlq_dir, inputs.TABLE)
    bronze = os.path.join(meas.bronze_dir, inputs.TABLE)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    seen_dlq: set[str] = set()
    touched, rewrite, bronze_bytes = [], 0, 0
    events = malformed = 0
    r.mark("warmup")
    window = host.HostWindow(r.tree)
    t_start = time.perf_counter()
    for g in range(drains):
        grp = feed.groups[g]
        n_ev = grp.events.num_rows
        m0 = layout.manifest(silver) if r.trace else None
        b0 = layout.dir_bytes(bronze) if r.trace else 0
        _land(meas, measured_files[g])
        with r.timed("drain", group=g, events=n_ev, malformed=len(grp.malformed)):
            r.call("CdcPipeline.run_available_now", meas.run_available_now, inputs.TABLE)
        new = sorted(set(os.listdir(dlq) if os.path.isdir(dlq) else []) - seen_dlq)
        seen_dlq |= set(new)
        got = [] if not new else [
            row[0] for d in new for row in con.execute(
                f"SELECT _corrupt FROM read_parquet('{os.path.join(dlq, d)}/*.parquet')"
            ).fetchall()
        ]
        r.check(sorted(got) == sorted(grp.malformed),
                f"group {g}: DLQ rows {len(got)} != malformed lines {len(grp.malformed)}")
        if r.trace:
            m1 = layout.manifest(silver)
            touched.append(len(layout.moved_buckets(m0, m1)))
            rewrite += layout.rewrite_bytes(silver, m0, m1)
            bronze_bytes += layout.dir_bytes(bronze) - b0
        events += n_ev
        malformed += len(grp.malformed)
    t_end = time.perf_counter()
    r.info["host"] = window.close()
    r.mark("measured")

    # end state against the oracle: replica, bronze, DLQ
    orc = oracle.ReplicaOracle()
    orc.apply(feed.snapshot)
    b = orc.apply(pa.concat_tables([feed.groups[i].events for i in range(drains)]))
    from cdc_demo_spark.streaming.merge import read_silver

    replica = read_silver(r.spark, silver).toArrow()
    diff = orc.diff_count(b, replica)
    r.final_check(diff == 0, f"replica differs from the oracle in {diff} rows")
    n_bronze = oracle.count_parquet_rows(con, f"{bronze}/*/*.parquet")
    r.final_check(n_bronze == N_KEYS + events, f"bronze rows {n_bronze} != {N_KEYS + events}")
    r.final_check(
        oracle.dlq_matches(con, f"{dlq}/*/*.parquet", [x for i in range(drains) for x in feed.groups[i].malformed]),
        "DLQ differs from the malformed lines landed",
    )

    times = r.samples["drain"]
    busy = sum(times)
    r.report("setup_s", start_s + median(setup), "s", e2e=True)
    r.report("throughput_per_s", events / busy, "1/s", e2e=True)
    r.report("latency_p50_s", median(times), "s", e2e=True)
    r.report_tail("latency_tail_s", times, e2e=True)
    r.report("events_per_s", events / busy, "1/s")
    r.report("commit_p50_s", median(times), "s")
    r.report_tail("commit_tail_s", times)
    r.layer["session.start_s"] = start_s

    if r.trace:
        spans = r.spans("CdcPipeline.run_available_now")
        n = max(len(spans), 1)
        r.layer.update({
            "streaming.pipeline.drain_s": median([s["dur"] for s in spans]),
            "streaming.pipeline.jobs_per_drain": median([s["jobs"] for s in spans]),
            "streaming.pipeline.cpu_s_per_event": sum(s["executorCpuTime"] for s in spans) / 1e9 / events,
            "streaming.pipeline.gc_s_per_drain": sum(s["jvmGcTime"] for s in spans) / 1e3 / n,
            "streaming.pipeline.bronze_bytes_per_event": bronze_bytes / events,
            "streaming.pipeline.dlq_capture": (
                oracle.count_parquet_rows(con, f"{dlq}/*/*.parquet") / malformed if malformed else 0.0
            ),
            "streaming.merge.buckets_touched_p50": median(touched),
            "streaming.merge.rewrite_bytes_per_event": rewrite / events,
            "streaming.merge.shuffle_bytes_per_commit": sum(s["shuffleWriteBytes"] for s in spans) / n,
            "streaming.merge.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in spans
            ),
            "storage.manifests_retained": len(layout.manifests(silver)),
            "storage.space_amp": layout.space_amp(silver),
            "storage.files_per_bucket": layout.files_per_bucket(silver),
        })
    return t_start, t_end
