"""Seeded input generators for the benchmark's workloads.

Every function here is a pure function of its arguments: the same seed
gives byte-identical tables, on any host. The program under test never
sees a seed, only the tables these functions return. Expected results
for the lake workloads are derived here too, from the generator's own
bookkeeping, never from the program.

Table shapes follow the fixture schemas the package's queries read
(`FIXTURES.md`): a TPC-H-ish star schema, an `events` stream, a
`documents` corpus and unit-norm `embeddings`.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: query_mix reads ONE fixed dataset, so its committed oracle digests
#: stay valid; the run seed only fixes the query order.
QUERY_MIX_DATA_SEED = 20240101

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
P_ADJ = ("blue", "hot", "small", "old", "cold", "red", "new", "large")
P_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

DAY_MS = 86_400_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream), so adding a column to
    one table never shifts the values of another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_ms(start: dt.date, days: np.ndarray) -> pa.Array:
    base = (start - dt.date(1970, 1, 1)).days * DAY_MS
    return pa.array(base + days.astype(np.int64) * DAY_MS, pa.timestamp("ms"))


def _texts(rng, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + ln]))
        pos += ln
    return out


def star_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """The ten tables the package's queries read, at ``scale`` (0.01 is
    60,000 lineitem rows). ``documents`` and ``embeddings`` stay at 500
    rows, as in the fixture tables."""
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = _rng(seed, "part")
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 65, n_part)],
        "p_type": [P_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    r = _rng(seed, "orders")
    order_day = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days_ms(dt.date(1995, 1, 1), order_day),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, "lineitem")
    l_order = r.integers(0, n_ord, n_li)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": _days_ms(
            dt.date(1995, 1, 1), order_day[l_order] + r.integers(1, 122, n_li)),
    })
    t["events"] = events_table(seed, 0, n_ev, dt.datetime(2024, 1, 1), 30,
                               unit="ns")
    r = _rng(seed, "documents")
    texts = _texts(r, 500)
    # a few verbatim repeats keep the dedup queries' clusters non-empty
    for dst, src in zip(r.integers(0, 500, 25), r.integers(0, 500, 25)):
        texts[dst] = texts[src] + " dup"
    t["documents"] = docs_table(r, np.arange(500), texts)
    r = _rng(seed, "embeddings")
    centers = r.normal(size=(10, 64))
    labels = r.integers(0, 10, 500)
    vecs = centers[labels] + 0.6 * r.normal(size=(500, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(500), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def docs_table(rng, ids, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def events_table(seed: int, first_id: int, n: int, start: dt.datetime,
                 days: int, unit: str = "us") -> pa.Table:
    """``n`` events with ids ``first_id..first_id+n-1`` spread over
    ``days`` days from ``start``, in id (= time) order."""
    r = _rng(seed, f"events{first_id}")
    span_us = days * 86_400_000_000
    offs = np.sort(r.integers(0, span_us, n))
    base_us = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = (base_us + offs) * (1000 if unit == "ns" else 1)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp(unit)),
        "user_id": pa.array(r.integers(0, 150, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": _money(r, 0.01, 500.0, n),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- lake: events ------------------------------------------------------------

EVENTS_PER_NIGHT = 400
#: share of a night's batch that replays rows landed the night before
REPLAY_SHARE = 0.10
#: share of the landed events whose ``value`` gets a late correction
UPDATE_SHARE = 0.02


def ingest_plan(seed: int) -> dict:
    """A two-night ``events`` history. Night 0 seeds the dataset
    (``initial``). Night 1 carries one day of new events plus
    ~``REPLAY_SHARE`` replayed night-0 rows (``batch``), and late
    corrections of the ``value`` of ~``UPDATE_SHARE`` of the night-0
    events (``updates``). ``expected`` holds the generator-side
    invariants once night 1 has landed; ``survivors`` is that state."""
    r = _rng(seed, "ingest")
    n = EVENTS_PER_NIGHT
    day0 = dt.datetime(2024, 1, 1)
    initial = events_table(seed, 0, n, day0, 1)
    fresh = events_table(seed, n, n, day0 + dt.timedelta(days=1), 1)
    replay = initial.take(np.sort(
        r.choice(n, int(round(REPLAY_SHARE * n)), replace=False)))
    pick = np.sort(r.choice(n, max(1, int(round(UPDATE_SHARE * n))), replace=False))
    value_at = initial.schema.get_field_index("value")
    updates = initial.take(pick)
    updates = updates.set_column(value_at, "value",
                                 pa.array(_money(r, 0.01, 500.0, len(pick))))
    final = pa.concat_tables([initial, fresh])
    value = final.column("value").to_pylist()
    for i, v in zip(pick, updates.column("value").to_pylist()):
        value[i] = v  # event ids are row positions
    final = final.set_column(value_at, "value", pa.array(value))
    return {
        "initial": initial,
        "batch": pa.concat_tables([replay, fresh]),
        "updates": updates,
        "expected": {"events": 2 * n,
                     "value_cents": sum(round(v * 100) for v in value)},
        "survivors": final,
    }


# -- lake: documents ---------------------------------------------------------

N_DUMPS = 2
DOCS_PER_DUMP = 150
DOCS_PER_APPEND = 40
N_EVAL = 12
#: share of a batch that copies documents of the other dump
DUP_SHARE = 0.05
#: share of a batch that carries an eval text
CONTAM_SHARE = 0.03


def sweep_plan(seed: int) -> dict:
    """Documents split into ``N_DUMPS`` crawl dumps: an initial load of
    every dump and one night's appends to one seeded dump, the other
    staying unchanged. Every batch carries planted verbatim copies of
    documents already in ANOTHER dump (cross-dump near-dups) and planted
    copies of held-out eval texts (contamination). ``planted_dups`` maps
    a copy's ``(dump, doc_id)`` to its source ``(dump, doc_id)``;
    ``planted_contam`` lists ``(dump, doc_id)`` of contaminated docs."""
    r = _rng(seed, "sweep")
    eval_texts = _texts(r, N_EVAL, 40, 80)
    eval_set = pa.table({
        "doc_id": pa.array(np.arange(N_EVAL), pa.int64()),
        "text": eval_texts,
    })
    dumps = [f"dump{i}" for i in range(N_DUMPS)]
    pool: list[tuple[str, int, str]] = []  # (dump, id, text) landed so far
    planted_dups: dict[tuple[str, int], tuple[str, int]] = {}
    planted_contam: list[tuple[str, int]] = []
    next_id = [d * 1_000_000 for d in range(N_DUMPS)]

    def batch(d: int, n: int) -> pa.Table:
        ids = list(range(next_id[d], next_id[d] + n))
        next_id[d] += n
        texts = _texts(r, n, 20, 100)
        others = [p for p in pool if p[0] != dumps[d]]
        n_dup = max(1, int(round(DUP_SHARE * n))) if others else 0
        slots = r.choice(n, n_dup + max(1, int(round(CONTAM_SHARE * n))),
                         replace=False)
        for j, slot in enumerate(slots):
            if j < n_dup:
                src = others[int(r.integers(0, len(others)))]
                texts[slot] = src[2]
                planted_dups[(dumps[d], ids[slot])] = (src[0], src[1])
            else:
                ev = eval_texts[int(r.integers(0, N_EVAL))]
                texts[slot] = f"{texts[slot]} {ev}"
                planted_contam.append((dumps[d], ids[slot]))
        pool.extend((dumps[d], i, s) for i, s in zip(ids, texts))
        return docs_table(r, ids, texts)

    initial = {dumps[d]: batch(d, DOCS_PER_DUMP) for d in range(N_DUMPS)}
    changed = int(r.integers(0, N_DUMPS))
    return {"dumps": dumps, "initial": initial,
            "appends": {dumps[changed]: batch(changed, DOCS_PER_APPEND)},
            "eval_set": eval_set, "planted_dups": planted_dups,
            "planted_contam": planted_contam}
