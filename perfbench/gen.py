"""Seeded input generators for the benchmark.

Everything the program under test reads is made here, from one seed, in
the benchmark process: the drift-tube hit files of ``dt_stream`` and the
parquet tables of ``query_mix``.  The same seed gives byte-identical
rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# drift-tube hits
# ---------------------------------------------------------------------------

DT_SCHEMA = pa.schema(
    [
        ("HEAD", pa.int16()),
        ("FPGA", pa.int16()),
        ("TDC_CHANNEL", pa.int32()),
        ("ORBIT_CNT", pa.int64()),
        ("BX_COUNTER", pa.int32()),
        ("TDC_MEAS", pa.int32()),
    ]
)

# Hits per orbit: 1-9, mostly 1-4 (the shape of the reference fixture).
_HITS_PER_ORBIT = np.array([0.25, 0.22, 0.18, 0.12, 0.08, 0.06, 0.04, 0.03, 0.02])
NOISE_SHARE = 0.06  # rows that are not physical hits
STRADDLE_SHARE = 0.25  # files whose last orbit continues in the next file


def dt_files(seed: int, groups: list[int], orbits_per_file: int) -> list[pa.Table]:
    """Tables of DT hits in publish order, in ``groups`` of files
    published back to back (a group of ``groups[i]`` files).

    Orbit counters increase across files.  Within an orbit the hits sit
    on a cluster of adjacent channels of one FPGA and a few bunch
    crossings apart.  A share of rows is non-physical (``HEAD != 2`` or
    a service channel above 128).  In some files the last orbit
    continues in the next file of its group, so an orbit can straddle
    micro-batches; no orbit spans a pause between groups, which would
    outlast the assembler's inactivity timeout.
    """
    n_files = sum(groups)
    group_ends = set(np.cumsum(groups) - 1)
    rng = np.random.default_rng(seed)
    orbit = 3_000_000_000 + int(rng.integers(0, 1_000_000))
    tables = []
    carry = None  # orbit continued from the previous file
    for i in range(n_files):
        n_orb = orbits_per_file
        gaps = rng.integers(1, 4, n_orb)
        orbits = orbit + np.cumsum(gaps)
        orbit = int(orbits[-1])
        if carry is not None:
            orbits = np.concatenate([[carry], orbits])
        hits = rng.choice(np.arange(1, 10), size=len(orbits), p=_HITS_PER_ORBIT)
        if carry is not None:
            hits[0] = rng.integers(1, 4)
        n = int(hits.sum())
        orbit_col = np.repeat(orbits, hits)
        base_ch = np.repeat(rng.integers(1, 121, len(orbits)), hits)
        base_bx = np.repeat(rng.integers(0, 3555, len(orbits)), hits)
        fpga = np.repeat(rng.integers(0, 2, len(orbits)), hits)
        channel = base_ch + rng.integers(0, 8, n)
        bx = base_bx + rng.integers(0, 9, n)
        head = np.full(n, 2)
        noise = rng.random(n) < NOISE_SHARE
        service = noise & (rng.random(n) < 0.5)
        head[noise & ~service] = rng.choice([0, 1, 3], int((noise & ~service).sum()))
        channel[service] = rng.integers(129, 139, int(service.sum()))
        tables.append(
            pa.table(
                [
                    pa.array(head, pa.int16()),
                    pa.array(fpga, pa.int16()),
                    pa.array(channel, pa.int32()),
                    pa.array(orbit_col, pa.int64()),
                    pa.array(bx, pa.int32()),
                    pa.array(rng.integers(0, 30, n), pa.int32()),
                ],
                schema=DT_SCHEMA,
            )
        )
        straddle = i not in group_ends and rng.random() < STRADDLE_SHARE
        carry = orbit if straddle else None
    return tables


def dt_reference(tables: list[pa.Table]):
    """Pure-Python expected outputs for a list of hit tables.

    Returns ``(orbits, occupancy)``: ``orbits`` maps ORBIT_CNT to
    ``(n_hits, n_channels, first_bx, last_bx)`` over physical hits, and
    ``occupancy`` maps ``(fpga, channel)`` to the physical hit count.
    """
    acc: dict[int, list] = {}
    occupancy: dict[tuple[int, int], int] = {}
    for t in tables:
        cols = t.to_pydict()
        for head, fpga, ch, orb, bx in zip(
            cols["HEAD"], cols["FPGA"], cols["TDC_CHANNEL"], cols["ORBIT_CNT"],
            cols["BX_COUNTER"],
        ):
            if head != 2 or ch > 128:
                continue
            a = acc.get(orb)
            if a is None:
                acc[orb] = [1, {ch}, bx, bx]
            else:
                a[0] += 1
                a[1].add(ch)
                a[2] = min(a[2], bx)
                a[3] = max(a[3], bx)
            occupancy[(fpga, ch)] = occupancy.get((fpga, ch), 0) + 1
    orbits = {o: (a[0], len(a[1]), a[2], a[3]) for o, a in acc.items()}
    return orbits, occupancy


def last_hit_file(tables: list[pa.Table]) -> dict[int, int]:
    """ORBIT_CNT -> index of the file holding the orbit's last physical
    hit (the file whose arrival lets the orbit complete)."""
    out: dict[int, int] = {}
    for i, t in enumerate(tables):
        cols = t.to_pydict()
        for head, ch, orb in zip(cols["HEAD"], cols["TDC_CHANNEL"], cols["ORBIT_CNT"]):
            if head == 2 and ch <= 128:
                out[orb] = i
    return out


# ---------------------------------------------------------------------------
# relational / document / vector tables (the registry's fixture schema)
# ---------------------------------------------------------------------------

_EPOCH = dt.datetime(1970, 1, 1)
MAX_DOCS = 150
_WORDS = (
    "a the data spark query table column row batch stream window join "
    "filter group sort hash scan merge key value part order line agg "
    "vector customer small big fast slow index shard cache plan node "
    "task stage shuffle"
).split()


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - _EPOCH).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The fixture tables the mix reads, at scale factor ``sf`` (sf 1 =
    1.5M orders, ~6M lines), with the column names and types the
    registry's loaders expect.  Keys into customer, supplier and part
    stay in those tables' ranges; the tables themselves are not read."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_events = max(int(1_000_000 * sf), 100)
    # Capped: the dedup queries' oracles compare every pair of documents.
    n_docs = min(max(int(50_000 * sf), 50), MAX_DOCS)
    n_vecs = max(int(50_000 * sf), 50)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t: dict[str, pa.Table] = {}

    day_us = 86_400 * 1_000_000
    odays = rng.integers(0, 2400, n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_us(dt.datetime(1995, 1, 1), odays * day_us),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us(dt.datetime(1995, 1, 1), ship * day_us),
        }
    )

    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    n_users = max(n_events // 67, 5)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts_us(
                dt.datetime(2024, 1, 1), rng.integers(0, 30 * day_us, n_events)
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": etypes[rng.integers(0, 5, n_events)],
            "value": _money(rng, 0.01, 490.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )

    t["documents"] = make_documents(rng, n_docs)

    dim, n_labels = 64, 10
    centers = rng.normal(0.0, 1.0, (n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


NEAR_DUP_SHARE = 0.06


def make_documents(rng, n_docs: int) -> pa.Table:
    """Word-salad documents over a small vocabulary; a share of them are
    one-word edits of an earlier, longer document (near-duplicates at
    3-shingle Jaccard well above 0.7)."""
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            src = texts[int(rng.integers(0, i))].split()
            if len(src) >= 40:
                src[int(rng.integers(0, len(src)))] = "edited"
                texts.append(" ".join(src))
                continue
        n = int(rng.integers(8, 90))
        texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n_docs)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
