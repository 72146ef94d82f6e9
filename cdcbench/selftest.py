"""Self-test of the benchmark at toy size.

    python3 cdcbench/selftest.py

Checks that
- BENCHMARK.json names exactly the workloads and metrics the code emits,
  and each workload prints its own figures (every workload is run at toy
  size, untraced and traced, each in its own process);
- a corrupted copy of a replica and a wrong corpus answer each fail the
  oracle check that guards them;
- the same seed gives byte-identical inputs and another seed different ones;
- outside a checkout (only BENCHMARK.json and this directory present) the
  benchmark exits non-zero without printing a result.
Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".cdcbench", "selftest")

# toy sizes, set on the workload modules in the child process
TOY = {
    "wl_ingest": {"N_KEYS": 3000, "FILES": 2, "EVENTS_PER_FILE": 300, "WARM_DRAINS": 1},
    "wl_serve": {"N_KEYS": 3000, "TRICKLE": 50, "TPCH_ORDERS": 2000},
    "wl_corpus": {"N_DOCS": 400, "N_VEC": 5000,
                  "ANN_ARGS": {"t_num": 4, "t_den": 5, "n_buckets": 8, "probes": 2}},
}

CHILD = """
import sys
sys.path.insert(0, {here!r})
import wl_corpus, wl_ingest, wl_serve
for mod, attrs in {toy!r}.items():
    for k, v in attrs.items():
        setattr(sys.modules[mod], k, v)
import run
sys.exit(run.main({argv!r}))
"""


def fail(msg: str) -> None:
    print(f"SELFTEST FAIL: {msg}")
    sys.exit(1)


def check_names() -> None:
    import metrics

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if [w["name"] for w in bench["workloads"]] != list(metrics.WORKLOADS):
        fail("BENCHMARK.json workloads differ from metrics.WORKLOADS")
    for key, names in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        if [(m["name"], m["unit"]) for m in bench[key]] != list(names):
            fail(f"BENCHMARK.json {key} differs from metrics.py")
    for w in metrics.WORKLOADS:
        for trace in (0, 1):
            argv = ["--workload", w, "--seed", "3", "--seconds", "2", "--trace", str(trace)]
            code = CHILD.format(here=HERE, toy=TOY, argv=argv)
            p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                               text=True, timeout=600, check=False)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                fail(f"{w} trace={trace}: exit {p.returncode}\n{p.stdout[-2000:]}\n{p.stderr[-3000:]}")
            res = json.loads(lines[-1])
            want = metrics.PER_LAYER if trace else metrics.END_TO_END
            got = [(k, v["unit"]) for k, v in res["metrics"].items()]
            if got != list(want):
                fail(f"{w} trace={trace}: emitted metrics differ from BENCHMARK.json")
            if set(res) != {"correct", "attempted", "failed", "metrics"} or not res["correct"]:
                fail(f"{w} trace={trace}: bad result line {lines[-1][:300]}")
            printed = {ln.split()[2] for ln in lines if ln.startswith(f"metric {w} ")}
            if printed != {n for n, _ in metrics.END_TO_END} | set(metrics.DETAIL[w]):
                fail(f"{w} trace={trace}: printed metrics {sorted(printed)}")
            print(f"ok   {w} trace={trace}: {res['attempted']} ops, names match")


def check_digests() -> None:
    import inputs

    def digests(seed: int) -> tuple:
        return (
            inputs.cdc_feed(seed, 500, 3, 2, 100).digest,
            inputs.table_digest(inputs.tpch_tables(seed, 500)),
            inputs.table_digest({"d": inputs.documents(seed, 200)}),
            inputs.table_digest({"v": inputs.vectors(seed, 500)}),
        )

    a, b, c = digests(11), digests(11), digests(12)
    if a != b:
        fail("the same seed gave different inputs")
    if any(x == y for x, y in zip(a, c)):
        fail("another seed gave an identical input")
    print("ok   inputs: same seed -> same digests, other seed -> different")


def check_oracles_reject() -> None:
    """Corrupt a replica copy and a corpus answer; each check must fail."""
    code = f"""
import os, sys, shutil
sys.path.insert(0, {HERE!r}); sys.path.insert(1, {ROOT!r})
import glob
import pyarrow as pa, pyarrow.parquet as pq
import host, inputs, oracle
work = {SCRATCH!r}
spark, _ = host.start_session({ROOT!r}, work, 2)
from cdc_demo_spark.schemas import envelope_schema
from cdc_demo_spark.streaming.merge import merge_into_silver, read_silver
feed = inputs.cdc_feed(5, 2000, 1, 1, 200, p_malformed=0.0)
src = os.path.join(work, "snap")
inputs.write_files(feed.snapshot_files, src, "s")
silver = os.path.join(work, "silver")
merge_into_silver(spark, spark.read.schema(envelope_schema(inputs.payload_schema())).json(src),
                  silver, inputs.TABLE, num_buckets=4)
orc = oracle.ReplicaOracle()
b = orc.apply(feed.snapshot)
good = orc.diff_count(b, read_silver(spark, silver).toArrow())
bad_copy = os.path.join(work, "silver_corrupt")
shutil.copytree(silver, bad_copy)
f = sorted(glob.glob(os.path.join(bad_copy, "data", "b*", "*", "*.parquet")))[0]
t = pq.read_table(f)
rows = t.column("__row").combine_chunks()
qty = rows.field("qty").to_numpy(zero_copy_only=False).copy()
qty[0] += 1
fixed = pa.StructArray.from_arrays(
    [rows.field(n) if n != "qty" else pa.array(qty, pa.int64()) for n in inputs.PAYLOAD_COLS],
    names=list(inputs.PAYLOAD_COLS))
pq.write_table(t.set_column(t.schema.get_field_index("__row"), "__row", fixed), f)
os.remove(os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc"))  # stale checksum
bad = orc.diff_count(b, read_silver(spark, bad_copy).toArrow())
print("REPLICA", good, bad)
pairs = inputs.planted_doc_pairs(400)
kept = set(range(400)) - {{b_ for _, b_ in pairs}}
print("CORPUS", oracle.planted_pairs_split(pairs, kept), oracle.planted_pairs_split(pairs, kept | {{pairs[0][1]}}))
vp = inputs.planted_vec_pairs(5000)
clusters = {{x: a for a, b_ in vp for x in (a, b_)}}
wrong = dict(clusters); wrong[vp[0][1]] = -1
print("DEDUP", oracle.clustered_share(vp, clusters), oracle.clustered_share(vp, wrong))
twins = {{i: i - 1 for i in range(999, 5000, 1000)}}
print("DECONTAM", oracle.decontam_exact(twins, 5000, 1000),
      oracle.decontam_exact({{**twins, 999: 997}}, 5000, 1000))
host.stop_session(spark)
"""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
                       timeout=600, check=False)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    out = {ln.split()[0]: ln.split()[1:] for ln in p.stdout.splitlines() if ln.split()}
    if p.returncode != 0 or "DECONTAM" not in out:
        fail(f"oracle rejection probe crashed:\n{p.stdout[-2000:]}\n{p.stderr[-3000:]}")
    intact, corrupted = map(int, out["REPLICA"])
    if intact != 0 or corrupted == 0:
        fail(f"replica check: intact copy {intact} rows differ, corrupted copy {corrupted}")
    if out["CORPUS"] != ["0", "1"]:
        fail(f"corpus check did not reject a kept planted pair: {out['CORPUS']}")
    if float(out["DEDUP"][0]) != 1.0 or float(out["DEDUP"][1]) >= 0.99:
        fail(f"dedup check did not reject a split planted pair: {out['DEDUP']}")
    if out["DECONTAM"] != ["True", "False"]:
        fail(f"decontamination check: {out['DECONTAM']}")
    print(f"ok   oracles: corrupted replica -> {corrupted} rows differ; "
          "wrong corpus, dedup and decontamination answers rejected")


def check_bare_dir() -> None:
    bare = os.path.join(ROOT, ".cdcbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "cdcbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "cdc_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180, check=False,
    )
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        fail(f"outside a checkout: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    print(f"ok   outside a checkout: exit {p.returncode}, nothing on stdout")


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    check_digests()
    check_bare_dir()
    check_oracles_reject()
    check_names()
    print("SELFTEST PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
