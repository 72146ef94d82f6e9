"""Seeded input generators.  Every input is a pure function of the seed
and the size arguments; the engine only ever sees the files and frames
written here, and the oracles only ever see the arrays kept here.

- CDC change events for one keyed table (``acct``): an ``op='r'``
  snapshot, then groups of change files with Zipf-keyed inserts,
  updates and deletes, redeliveries (identical copies of an event, in
  the same or the next group), late events (moved one or two groups
  later), locally reordered neighbours and ~1% malformed lines.
- TPC-H-shaped tables (region .. lineitem) for the registered
  relational queries.
- Token documents with planted near-duplicate pairs (each
  ``DOC_DUP_EVERY``-th doc copies its predecessor with ~1.7% of tokens
  substituted), the shape the corpus operators' quality rules expect.
- 64-dim vectors with planted near-duplicate pairs, from the engine's
  ``synth_vectors`` generator; each 10th pair serves as a planted
  decontamination head and twin.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE = "acct"
T0 = datetime(2024, 1, 1)

# payload of the replicated table; ``name`` is the key column
PAYLOAD_COLS = ("name", "owner", "qty", "note")


def payload_schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType(
        [
            StructField("name", StringType(), True),
            StructField("owner", StringType(), True),
            StructField("qty", LongType(), True),
            StructField("note", StringType(), True),
        ]
    )


def key_of(i: int) -> str:
    return f"k{i:07d}"


class Digest:
    """Running sha256 over everything a generator emits."""

    def __init__(self) -> None:
        self._h = hashlib.sha256()

    def add(self, b: bytes) -> None:
        self._h.update(b)

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


# --------------------------------------------------------------------------
# CDC events
# --------------------------------------------------------------------------


@dataclass
class ChangeGroup:
    """One group of change files: the file texts, the well-formed events
    they carry (duplicates included, as an oracle table) and the
    malformed lines among them."""

    files: list[str]
    events: pa.Table
    malformed: list[str]


@dataclass
class CdcFeed:
    snapshot: pa.Table
    snapshot_files: list[str]
    groups: list[ChangeGroup]
    digest: str = ""
    stats: dict = field(default_factory=dict)


def _img(k: int, owner, qty, note) -> str:
    return f'{{"name":"{key_of(k)}","owner":"o{owner:03d}","qty":{qty},"note":"n{note:x}"}}'


def _line(op: str, ts: str, seq: int, k: int, before: str, after: str) -> str:
    return (
        f'{{"op":"{op}","ts":"{ts}","seq":{seq},"table":"{TABLE}",'
        f'"key":"{key_of(k)}","before":{before},"after":{after}}}'
    )


def _oracle_table(evs: list[tuple]) -> pa.Table:
    """(op, ts, seq, k, row-or-None) event tuples -> the oracle's columns."""
    rows = [e[4] for e in evs]
    return pa.table({
        "op": [e[0] for e in evs],
        "ts": pa.array([datetime.fromisoformat(e[1]) for e in evs], pa.timestamp("us")),
        "seq": pa.array([e[2] for e in evs], pa.int64()),
        "key": [key_of(e[3]) for e in evs],
        "owner": [None if r is None else f"o{r[0]:03d}" for r in rows],
        "qty": pa.array([None if r is None else r[1] for r in rows], pa.int64()),
        "note": [None if r is None else f"n{r[2]:x}" for r in rows],
    })


def _split_files(lines: list[str], n_files: int) -> list[str]:
    per = -(-len(lines) // n_files)
    return ["\n".join(lines[i : i + per]) + "\n" for i in range(0, len(lines), per)]


SNAPSHOT_FILES = 8
ZIPF_S = 0.99  # key skew of change events and lookups
P_DELETE = 0.12  # a change to a live key deletes it
P_REDELIVER = 0.02
P_LATE = 0.02
P_MALFORMED = 0.01


def cdc_feed(
    seed: int,
    n_keys: int,
    n_groups: int,
    files_per_group: int,
    events_per_file: int,
    p_malformed: float = P_MALFORMED,
) -> CdcFeed:
    """The ``op='r'`` snapshot of ``n_keys`` keys plus ``n_groups`` change
    groups.  Keys are drawn from a Zipf law over a random permutation of
    a key space 10% larger than the snapshot, so groups also insert new
    keys.  A late event is moved one or two groups later; a redelivery
    is an identical copy in the same group or the next."""
    rng = np.random.default_rng([seed, 0xCDC])
    dig = Digest()
    space = int(n_keys * 1.1)
    owner = rng.integers(0, 1000, space)
    qty = rng.integers(0, 1_000_000, space)
    note = rng.integers(0, 1 << 30, space)
    live = np.zeros(space, dtype=bool)
    live[:n_keys] = True
    t0 = T0.isoformat(timespec="microseconds")
    snap_lines = [
        _line("r", t0, i, i, "null", _img(i, owner[i], qty[i], note[i])) for i in range(n_keys)
    ]
    snapshot = _oracle_table(
        [("r", t0, i, i, (int(owner[i]), int(qty[i]), int(note[i]))) for i in range(n_keys)]
    )
    snap_files = _split_files(snap_lines, SNAPSHOT_FILES)
    for f in snap_files:
        dig.add(f.encode())

    p = np.arange(1, space + 1, dtype=np.float64) ** -ZIPF_S
    p /= p.sum()
    perm = rng.permutation(space)
    seq = n_keys
    n = files_per_group * events_per_file
    carry: dict[int, list[tuple]] = {}  # group -> late / redelivered (event, line)
    groups = []
    n_dup = n_late = 0
    for g in range(n_groups):
        picks = perm[rng.choice(space, size=n, p=p)]
        r_del, r_late, r_dup, r_where = rng.random((4, n))
        late_by = rng.integers(1, 3, n)
        new_owner = rng.integers(0, 1000, n)
        new_qty = rng.integers(0, 1_000_000, n)
        new_note = rng.integers(0, 1 << 30, n)
        micros = rng.integers(0, 1_000_000, n)
        out: list[tuple] = []
        for i in range(n):
            k = int(picks[i])
            ts = (T0 + timedelta(seconds=1 + seq // 4, microseconds=int(micros[i]))).isoformat(
                timespec="microseconds"
            )
            before = _img(k, owner[k], qty[k], note[k]) if live[k] else "null"
            if live[k] and r_del[i] < P_DELETE:
                live[k] = False
                ev = ("d", ts, seq, k, None)
                line = _line("d", ts, seq, k, before, "null")
            else:
                op = "u" if live[k] else "c"
                owner[k], qty[k], note[k] = new_owner[i], new_qty[i], new_note[i]
                live[k] = True
                ev = (op, ts, seq, k, (int(owner[k]), int(qty[k]), int(note[k])))
                line = _line(op, ts, seq, k, before, _img(k, owner[k], qty[k], note[k]))
            seq += 1
            if r_late[i] < P_LATE and g + 1 < n_groups:
                carry.setdefault(g + int(late_by[i]), []).append((ev, line))
                n_late += 1
                continue
            out.append((ev, line))
            if r_dup[i] < P_REDELIVER:
                n_dup += 1
                if r_where[i] < 0.5 and g + 1 < n_groups:
                    carry.setdefault(g + 1, []).append((ev, line))
                else:
                    out.append((ev, line))
        out.extend(carry.pop(g, []))
        swap = rng.random(len(out)) < 0.3  # local reordering of neighbours
        for i in range(len(out) - 1):
            if swap[i]:
                out[i], out[i + 1] = out[i + 1], out[i]
        bad_at = rng.random(len(out)) < p_malformed
        lines, bad = [], []
        for (ev, line), b in zip(out, bad_at):
            if b:
                # a truncated envelope: not parseable JSON, so PERMISSIVE
                # parsing must route it to the corrupt-record column
                junk = line[: 5 + len(line) // 3]
                bad.append(junk)
                lines.append(junk)
            lines.append(line)
        files = _split_files(lines, files_per_group)
        for f in files:
            dig.add(f.encode())
        groups.append(ChangeGroup(files, _oracle_table([e for e, _ in out]), bad))
    return CdcFeed(
        snapshot, snap_files, groups, dig.hexdigest(),
        {"redelivered": n_dup, "late": n_late},
    )


def write_files(texts: list[str], dir_path: str, prefix: str) -> list[str]:
    """Write file texts under ``dir_path`` (staging, outside any landing
    dir) and return their paths."""
    os.makedirs(dir_path, exist_ok=True)
    paths = []
    for i, t in enumerate(texts):
        path = os.path.join(dir_path, f"{prefix}-{i:03d}.json")
        with open(path, "w") as f:
            f.write(t)
        paths.append(path)
    return paths


# --------------------------------------------------------------------------
# TPC-H-shaped tables
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def tpch_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x7C4])
    n_cust, n_supp, n_part = n_orders // 10, max(10, n_orders // 150), n_orders // 7
    day0 = np.datetime64("1995-01-01", "us")

    def days(n, span):
        return day0 + rng.integers(0, span, n).astype("timedelta64[D]")

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999, 9999),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999, 9999),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": [f"TYPE {t}" for t in rng.integers(0, 150, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": money(n_part, 900, 2000),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": money(n_orders, 1000, 400000),
        "o_orderdate": pa.array(days(n_orders, 2400), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    lines_per = rng.integers(1, 8, n_orders)
    n_li = int(lines_per.sum())
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders), lines_per), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, n + 1) for n in lines_per]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(n_li, 900, 100000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(days(n_li, 2500), pa.timestamp("us")),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem}


def write_tables(tables: dict[str, pa.Table], dir_path: str) -> str:
    os.makedirs(dir_path, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dir_path, f"{name}.parquet"))
    return dir_path


def table_digest(tables: dict[str, pa.Table]) -> str:
    dig = Digest()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        dig.add(name.encode())
        dig.add(sink.getvalue().to_pybytes())
    return dig.hexdigest()


# --------------------------------------------------------------------------
# Documents and vectors
# --------------------------------------------------------------------------

DOC_VOCAB = 50_000
DOC_DUP_EVERY = 50
DOC_MIN_TOKENS, DOC_MAX_TOKENS = 50, 304


def documents(seed: int, n: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars); doc ``k*DOC_DUP_EVERY-1``
    is a near-copy of doc ``k*DOC_DUP_EVERY-2`` with one token in every
    ~60 substituted at evenly spaced positions.  Each substitution removes
    three 3-shingles, so a planted pair's shingle-Jaccard is >= 0.88,
    where 16x4-band LSH misses a pair with probability < 1e-6; unrelated
    docs over a 50k-word vocabulary share essentially no shingles."""
    rng = np.random.default_rng([seed, 0xD0C])
    lengths = rng.integers(DOC_MIN_TOKENS, DOC_MAX_TOKENS, n)
    toks = rng.integers(0, DOC_VOCAB, (n, DOC_MAX_TOKENS))
    for a, b in planted_doc_pairs(n):
        length = lengths[b] = lengths[a]
        subs = max(1, int(length) // 60)
        toks[b] = toks[a]
        for j in range(subs):
            toks[b, int((j + 0.5) * length / subs)] = rng.integers(0, DOC_VOCAB)
    texts = [" ".join(f"w{v}" for v in toks[i, : lengths[i]]) for i in range(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{i % 4}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def planted_doc_pairs(n: int) -> list[tuple[int, int]]:
    return [(i - 1, i) for i in range(DOC_DUP_EVERY - 1, n, DOC_DUP_EVERY)]


# synth_embeddings' defaults: 64 dims, every 100th vector (ids k*100-1) a
# noisy copy of its predecessor
VEC_DIM, VEC_DUP_EVERY, VEC_NOISE = 64, 100, 0.05
EVAL_EVERY = 1000  # ids == 998 (mod 1000) are eval heads, 999 their twins


def vectors(seed: int, n: int) -> pa.Table:
    """(vec_id, embedding array<float>): the engine's synthetic embedding
    corpus (``sources.synth_vectors``), computed here with its numpy
    generator so that no Spark job runs before the session is measured."""
    from cdc_demo_spark.sources.synth_vectors import _vectors_for_ids

    x = _vectors_for_ids(np.arange(n), VEC_DIM, seed, VEC_DUP_EVERY, VEC_NOISE)
    flat = pa.array(x.reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, VEC_DIM).cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n), pa.int64()), "embedding": emb})


def planted_vec_pairs(n: int) -> list[tuple[int, int]]:
    from cdc_demo_spark.sources.synth_vectors import planted_pairs

    return planted_pairs(n, VEC_DUP_EVERY)
