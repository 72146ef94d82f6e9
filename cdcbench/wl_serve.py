"""replica_serve: reads beside a trickle of writes on a settled replica.

Set-up merges the ``op='r'`` snapshot into three fresh 16-bucket silver
tables with ``merge_into_silver`` (the median merge is the set-up
figure).  The first copy takes a warm-up pass of every op kind; the
measured copy, built after it, is settled with a few trickles so that
the time-travel window holds several versions, then serves a fixed
seeded op sequence, in blocks of sixteen with a fixed mix: Zipf
point lookups, full-replica aggregates, time-travel reads with the
changefeed between neighbouring versions, registered relational queries
and 200-event merge trickles.  The sequence does not depend on timing,
so the replica an op sees does not depend on how fast earlier ops ran.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa

import host
import inputs
import layout
import oracle
from harness import Run, median

N_KEYS = 200_000
BUCKETS = 16
TRICKLE = 200
SETTLE_TRICKLES = 3
TPCH_ORDERS = 20_000
# registered queries over the TPC-H-shaped tables that have a DuckDB oracle
QUERY_NAMES = (
    "q_revenue_by_nation",
    "q_pricing_summary",
    "q_shipping_priority",
    "q_returned_items",
    "q_order_count_distribution",
)
# One block of the op sequence; blocks are shuffled independently, so every
# whole block carries the same mix and a run ends on a block boundary.
BLOCK = ("lookup",) * 12 + ("scan", "history", "query", "trickle")
BLOCK_S = 2.5  # one block on a 4-core host: sizes the measured phase
# Warm-up: every kind twice, then lookups until their latency settles
# (a lookup is a few small Spark jobs; the first ~30 run measurably slower).
WARM_OPS = ("trickle", "lookup", "scan", "history", "query") * 2 + ("lookup",) * 40


def op_sequence(seed: int, blocks: int) -> list[list[tuple]]:
    """Blocks of (kind, argument) ops: lookup -> Zipf key index, history ->
    versions back (1..3 in rotation), query -> name (in rotation), others
    -> None."""
    rng = np.random.default_rng([seed, 0x5E7])
    space = int(N_KEYS * 1.1)
    zipf = np.arange(1, space + 1, dtype=np.float64) ** -inputs.ZIPF_S
    keys = rng.permutation(space)[rng.choice(space, size=blocks * BLOCK.count("lookup"),
                                             p=zipf / zipf.sum())]
    out, n_look = [], 0
    for b in range(blocks):
        block = []
        for kind in rng.permutation(BLOCK):
            if kind == "lookup":
                arg = int(keys[n_look])
                n_look += 1
            elif kind == "history":
                arg = 1 + b % 3
            elif kind == "query":
                arg = QUERY_NAMES[b % len(QUERY_NAMES)]
            else:
                arg = None
            block.append((str(kind), arg))
        out.append(block)
    return out


class Replica:
    """One silver copy and the engine calls the ops make on it."""

    def __init__(self, r: Run, path: str, orc: oracle.ReplicaOracle | None) -> None:
        from cdc_demo_spark.streaming import merge

        self.r, self.path, self.orc, self.m = r, path, orc, merge
        self.batch_of: dict[int, int] = {}  # silver version -> oracle batch

    def merge(self, json_path: str, **kw) -> None:
        from cdc_demo_spark.schemas import envelope_schema

        spark = self.r.spark
        batch = spark.read.schema(envelope_schema(inputs.payload_schema())).json(json_path)
        self.r.call("merge.merge_into_silver", self.m.merge_into_silver,
                    spark, batch, self.path, inputs.TABLE, **kw)

    def record(self, events: pa.Table) -> None:
        """Pin the oracle state matching the version just committed."""
        self.batch_of[layout.manifests(self.path)[-1]] = self.orc.apply(events)

    def current(self) -> int:
        return self.batch_of[layout.manifests(self.path)[-1]]

    def lookup(self, key: str) -> list[tuple]:
        df = self.r.call("merge.lookup_silver_key", self.m.lookup_silver_key,
                         self.r.spark, self.path, key)
        return [] if df is None else [tuple(x) for x in df.collect()]

    def scan(self, version: int | None = None) -> tuple:
        from pyspark.sql import functions as F

        df = self.r.call("merge.read_silver", self.m.read_silver,
                         self.r.spark, self.path, version=version)
        row = df.agg(F.count(F.lit(1)), F.sum("qty"), F.max("note"), F.min("name")).collect()[0]
        return tuple(row)

    def changes(self, v_from: int, v_to: int) -> set[tuple]:
        df = self.r.call("merge.silver_changes", self.m.silver_changes,
                         self.r.spark, self.path, v_from, v_to)
        return {
            (x["key"], x["change"],
             None if x["before"] is None else tuple(x["before"]),
             None if x["after"] is None else tuple(x["after"]))
            for x in df.collect()
        }


def run(r: Run) -> tuple[float, float]:
    blocks = r.units(BLOCK_S)
    n_trickles = SETTLE_TRICKLES + blocks * BLOCK.count("trickle")
    feed = inputs.cdc_feed(r.seed, N_KEYS, n_trickles, 1, TRICKLE, p_malformed=0.0)
    tables = inputs.tpch_tables(r.seed, TPCH_ORDERS)
    r.info["input_digests"].update(cdc_feed=feed.digest, tpch=inputs.table_digest(tables))
    r.info["sizes"] = {"keys": N_KEYS, "buckets": BUCKETS, "trickle": TRICKLE,
                       "tpch_orders": TPCH_ORDERS}
    inp = os.path.join(r.work, "inputs")
    tpch_dir = inputs.write_tables(tables, os.path.join(inp, "tpch"))
    snap_dir = os.path.join(inp, "snapshot")
    inputs.write_files(feed.snapshot_files, snap_dir, "snapshot")
    trickles = [inputs.write_files(g.files, os.path.join(inp, f"t{i:03d}"), "t")[0]
                for i, g in enumerate(feed.groups)]
    qor = oracle.QueryOracle(tpch_dir, list(tables))
    from cdc_demo_spark.queries import ORACLES, QUERIES

    expected = {q: qor.answer(ORACLES[q]) for q in QUERY_NAMES}
    seq = op_sequence(r.seed, blocks)

    r.mark("inputs")
    start_s = r.start()
    r.mark("session")
    orc = oracle.ReplicaOracle()
    setup: list[float] = []

    def snapshot_copy(c: int) -> Replica:
        rep = Replica(r, os.path.join(r.work, f"silver{c}"), orc if c == 1 else None)
        t0 = time.perf_counter()
        with r.tracer.span("setup.merge_into_silver"):
            rep.merge(snap_dir, num_buckets=BUCKETS)
        setup.append(time.perf_counter() - t0)
        return rep

    # The measured copy is built last, right before it is measured, so
    # that its files are still young when the run deletes them.
    warm = snapshot_copy(0)
    r.discard(snapshot_copy(2).path)

    def do(target: Replica, kind: str, arg, i: int, check: bool) -> None:
        """One op on ``target``; with ``check``, timed and verified."""
        if kind == "lookup":
            key = inputs.key_of(arg)
            if not check:
                target.lookup(key)
                return
            with r.timed("lookup", i=i, key=key):
                got = target.lookup(key)
            want = rep.orc.lookup(rep.current(), key)
            r.check(got == want, f"op {i}: lookup {key} -> {got} != {want}")
        elif kind == "scan":
            if not check:
                target.scan()
                return
            with r.timed("scan", i=i):
                got = target.scan()
            want = rep.orc.aggregate(rep.current())
            r.check(got == want, f"op {i}: scan {got} != {want}")
        elif kind == "history":
            vs = layout.manifests(target.path)
            v_to = vs[-min(arg, len(vs) - 1)]
            v_from = vs[vs.index(v_to) - 1]
            if not check:
                target.scan(v_from)
                target.changes(v_from, v_to)
                return
            with r.timed("history", i=i, v_from=v_from, v_to=v_to):
                agg = target.scan(v_from)
                ch = target.changes(v_from, v_to)
            if r.trace:
                changes_read.append(len(layout.moved_buckets(
                    layout.manifest(rep.path, v_from), layout.manifest(rep.path, v_to))))
            b_from, b_to = rep.batch_of[v_from], rep.batch_of[v_to]
            r.check(agg == rep.orc.aggregate(b_from), f"op {i}: v{v_from} aggregates {agg}")
            want = rep.orc.changes(b_from, b_to)
            r.check(ch == want, f"op {i}: changes v{v_from}->v{v_to}: {len(ch)} rows, oracle {len(want)}")
        elif kind == "query":
            fn = QUERIES[arg]
            if not check:
                r.call(f"queries.{arg}", lambda: fn(r.spark, tpch_dir).collect())
                return
            with r.timed("query", i=i, query=arg):
                rows = r.call(f"queries.{arg}", lambda: fn(r.spark, tpch_dir).collect())
            got = oracle.canon(list(rows[0].__fields__), rows) if rows else []
            r.check(got == expected[arg], f"op {i}: {arg} differs from its DuckDB oracle")

    # warm-up pass over every op kind on the first copy
    t_warm = 0
    for n, kind in enumerate(WARM_OPS):
        if kind == "trickle":
            warm.merge(trickles[t_warm])
            t_warm += 1
        else:
            arg = {"lookup": 7919 * n % N_KEYS, "history": 1,
                   "query": QUERY_NAMES[t_warm % len(QUERY_NAMES)]}.get(kind)
            do(warm, kind, arg, -1, check=False)
    r.discard(warm.path)
    rep = snapshot_copy(1)
    rep.record(feed.snapshot)
    r.discard(snap_dir)
    r.info["setup_merges_s"] = setup
    # settle the measured copy: a few versions in the time-travel window
    for t in range(SETTLE_TRICKLES):
        rep.merge(trickles[t])
        rep.record(feed.groups[t].events)
    next_trickle = SETTLE_TRICKLES

    touched, changes_read = [], []
    r.mark("warmup")
    window = host.HostWindow(r.tree)
    t_start = time.perf_counter()
    i = 0
    for block in seq:
        for kind, arg in block:
            if kind == "trickle":
                m0 = layout.manifest(rep.path)
                v0 = m0["version"]
                with r.timed("trickle", i=i, batch=next_trickle):
                    rep.merge(trickles[next_trickle])
                rep.record(feed.groups[next_trickle].events)
                m1 = layout.manifest(rep.path)
                r.check(m1["version"] == v0 + 1, f"op {i}: trickle committed v{m1['version']} after v{v0}")
                touched.append(len(layout.moved_buckets(m0, m1)))
                next_trickle += 1
            else:
                do(rep, kind, arg, i, check=True)
            i += 1
    t_end = time.perf_counter()
    r.info["host"] = window.close()
    r.mark("measured")

    # end state: the whole replica against the oracle
    replica = rep.m.read_silver(r.spark, rep.path).toArrow()
    diff = orc.diff_count(rep.current(), replica)
    r.final_check(diff == 0, f"replica differs from the oracle in {diff} rows")

    s = r.samples
    ops = sum(len(v) for v in s.values())
    busy = sum(sum(v) for v in s.values())
    lookups = s.get("lookup", [])
    r.report("setup_s", start_s + median(setup), "s", e2e=True)
    r.report("throughput_per_s", ops / busy, "1/s", e2e=True)
    r.report("latency_p50_s", median(lookups), "s", e2e=True)
    r.report_tail("latency_tail_s", lookups, e2e=True)
    r.report("lookup_p50_s", median(lookups), "s")
    r.report_tail("lookup_tail_s", lookups)
    for kind in ("scan", "history", "query", "trickle"):
        r.report(f"{kind}_p50_s", median(s.get(kind, [])), "s")
    r.info["op_counts"] = {k: len(v) for k, v in s.items()}
    r.layer["session.start_s"] = start_s

    if r.trace:
        trick = r.spans("trickle")
        hist = r.spans("history")
        queries = r.spans("query")
        n = max(len(trick), 1)
        r.layer.update({
            "streaming.merge.buckets_touched_p50": median(touched),
            "streaming.merge.shuffle_bytes_per_commit": sum(x["shuffleWriteBytes"] for x in trick) / n,
            "streaming.merge.spill_bytes": sum(
                x["memoryBytesSpilled"] + x["diskBytesSpilled"] for x in trick
            ),
            "streaming.merge.trickle_s": median([x["dur"] for x in trick]),
            "streaming.merge.trickle_jobs": median([x["jobs"] for x in trick]),
            # lookup_silver_key returns a lazy frame; its scan runs in the
            # op's collect, so jobs and rows are read from the op span
            "streaming.merge.lookup_s": median([x["dur"] for x in r.spans("lookup")]),
            "streaming.merge.lookup_jobs": median([x["jobs"] for x in r.spans("lookup")]),
            "streaming.merge.lookup_rows_read": median([x["inputRecords"] for x in r.spans("lookup")]),
            "streaming.merge.scan_s": median([x["dur"] for x in r.spans("scan")]),
            "streaming.merge.scan_rows_read": median([x["inputRecords"] for x in r.spans("scan")]),
            "streaming.merge.history_s": median([x["dur"] for x in hist]),
            "streaming.merge.changes_buckets_read": median(changes_read),
            "storage.manifests_retained": len(layout.manifests(rep.path)),
            "storage.space_amp": layout.space_amp(rep.path),
            "storage.files_per_bucket": layout.files_per_bucket(rep.path),
            "queries.query_s": median([x["dur"] for x in queries]),
            "queries.cpu_s": median([x["executorCpuTime"] / 1e9 for x in queries]),
        })
    return t_start, t_end
