"""Seeded input generators for the benchmark.

Three kinds of input, each a pure function of ``seed`` (same seed → the
same bytes; another seed → other values and keys, the same sizes):

- ``star_frame``: the repository's testdata star schema — the same ten tables,
  row counts, column types and one-file-per-table layout as its testdata
  at a given decade (``SHAPES``), with values drawn from the distributions
  that testdata has (uniform keys, TPC-H-like enums, 30 days of events,
  64-dim unit embeddings, 5% ``... dup`` near-duplicate documents).
- ``organic_frame``: ``scripts/gen_scaled_testdata.py`` (imported, not
  edited) applied in ``organic`` mode to a seeded ``star_frame``; the seed
  reaches it through the source frame.
- ``sar_records``: a Kaggle-shaped Statoil iceberg train file — a multiLine
  JSON array of records {id: 8-hex string, band_1/band_2: 75×75 dB
  floats, inc_angle: number or "na", is_iceberg: 0/1}.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import importlib.util
import io
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# row counts of the repository's testdata (TESTDATA.md), per decade (documents/embeddings
# and the event user population do not scale linearly there either)
SHAPES: dict[str, dict[str, int]] = {
    "0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                  lineitem=6000, events=1000, users=15, documents=500,
                  embeddings=500),
    "0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, users=150, documents=500,
                 embeddings=500),
    "0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                lineitem=600000, events=100000, users=1500,
                documents=5000, embeddings=2000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _days(start: dt.date, n_days: int, rng, size) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, n_days + 1, size).astype("timedelta64[D]")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo: float, hi: float, size) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def star_frame(dst: str, seed: int, sf: str = "0.1") -> str:
    """Write a seeded star-schema frame shaped like testdata ``sf<sf>``."""
    n = SHAPES[sf]
    rng = np.random.default_rng([seed, 1])
    os.makedirs(dst, exist_ok=True)
    ch = lambda opts, size: np.asarray(opts)[rng.integers(0, len(opts), size)]  # noqa: E731

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{dst}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.permutation(np.arange(25) % 5), pa.int32()),
    }), f"{dst}/nation.parquet")

    c = n["customer"]
    _write(pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": ch(SEGMENTS, c),
    }), f"{dst}/customer.parquet")

    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }), f"{dst}/supplier.parquet")

    p = n["part"]
    _write(pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.char.add(np.char.add(ch(ADJ, p), " "), ch(NOUN, p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": ch(PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    }), f"{dst}/part.parquet")

    o = n["orders"]
    _write(pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": ch(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(dt.date(1995, 1, 1), 2403, rng, o),
        "o_orderpriority": ch(PRIORITIES, o),
    }), f"{dst}/orders.parquet")

    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
        "l_returnflag": ch(["A", "N", "R"], li),
        "l_linestatus": ch(["F", "O"], li),
        "l_shipdate": _days(dt.date(1995, 1, 2), 2498, rng, li),
    }), f"{dst}/lineitem.parquet")

    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = t0 + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n["users"], e),
        "event_type": ch(EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }), f"{dst}/events.parquet")

    d = n["documents"]
    lens = rng.integers(10, 101, d)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    # 5% near-duplicates: another document's text plus a marker token
    dup = rng.choice(d, d // 20, replace=False)
    for i, j in zip(dup, rng.integers(0, d, dup.size)):
        if i != j:
            texts[i] = texts[j] + " dup"
    ids = np.arange(d, dtype=np.int64)
    _write(pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.asarray(LANGS)[rng.choice(len(LANGS), d, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{dst}/documents.parquet")

    m = n["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    }), f"{dst}/embeddings.parquet")
    return dst


def organic_frame(src: str, dst: str, n: int) -> str:
    """``n``-fold organic scale-up of ``src`` by the repo's own script."""
    spec = importlib.util.spec_from_file_location(
        "gen_scaled_testdata", os.path.join(REPO, "scripts", "gen_scaled_testdata.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    argv, sys.argv = sys.argv, ["gen_scaled_testdata.py", src, dst, str(n), "organic"]
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            mod.main()
    finally:
        sys.argv = argv
    return dst


SIDE = 75  # SAR scenes are 75×75 pixels


def sar_records(seed: int, n: int) -> list[dict]:
    """Kaggle-shaped SAR records; ~8% of inc_angle are the string "na"."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for k in range(n):
        ice = int(rng.random() < 0.47)
        b1 = rng.normal(-21.0 + 2.0 * ice, 4.0, SIDE * SIDE)
        b2 = rng.normal(-26.0 + 1.0 * ice, 3.5, SIDE * SIDE)
        # a bright target in the middle of the scene, as in the reference
        cy, cx = rng.integers(SIDE // 3, 2 * SIDE // 3, 2)
        yy, xx = np.divmod(np.arange(SIDE * SIDE), SIDE)
        spot = np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / 18.0)
        b1 += 18.0 * spot
        b2 += 14.0 * spot
        angle = "na" if rng.random() < 0.083 else round(float(rng.uniform(30.0, 46.0)), 4)
        out.append({
            "id": f"{int(rng.integers(0, 2**32)):08x}",
            "band_1": np.round(b1, 6).tolist(),
            "band_2": np.round(b2, 6).tolist(),
            "inc_angle": angle,
            "is_iceberg": ice,
        })
    return out


def sar_slice(records: list[dict], path: str, n: int, crop: int) -> str:
    """Parquet of the first ``n`` records with both bands center-cropped
    to ``crop``×``crop``."""
    lo = (SIDE - crop) // 2
    cut = lambda b: np.asarray(b).reshape(SIDE, SIDE)[lo:lo + crop, lo:lo + crop].ravel()  # noqa: E731
    rows = records[:n]
    pq.write_table(pa.table({
        "id": [r["id"] for r in rows],
        "band_1": [cut(r["band_1"]) for r in rows],
        "band_2": [cut(r["band_2"]) for r in rows],
    }), path)
    return path


def sar_test(path: str, seed: int, n: int) -> str:
    """Test-set-shaped rows to score into a submission: string ids and
    per-band mean backscatter in dB."""
    rng = np.random.default_rng([seed, 3])
    ids = rng.choice(2**32, n, replace=False)
    pq.write_table(pa.table({
        "id": [f"{int(i):08x}" for i in ids],
        "b1_mean": np.round(rng.normal(-21.0, 3.0, n), 6),
        "b2_mean": np.round(rng.normal(-26.0, 2.5, n), 6),
    }), path)
    return path


def _once(path: str, make) -> str:
    """Run ``make()`` unless ``path`` was completed before; the marker is
    written last, so an interrupted generation is redone."""
    if not os.path.exists(path + ".done"):
        make()
        open(path + ".done", "w").close()
    return path


def build_inputs(cache: str, seed: int, sf: str, organic: int, sar: dict | None) -> dict:
    """Generate (once per seed) every input of one workload under
    ``cache``; returns their paths."""
    base = os.path.join(cache, f"seed{seed}")
    os.makedirs(base, exist_ok=True)
    frame = os.path.join(base, f"sf{sf}")
    _once(frame, lambda: star_frame(frame, seed, sf))
    out = {"frame": frame}
    if organic > 1:
        scaled = os.path.join(base, f"sf{sf}x{organic}")
        out["frame"] = _once(scaled, lambda: organic_frame(frame, scaled, organic))
    if sar:
        paths = {k: os.path.join(base, name) for k, name in (
            ("sar_json", "sar_train.json"), ("sar_slice", "sar_slice.parquet"),
            ("sar_test", "sar_test.parquet"))}

        def make() -> None:
            records = sar_records(seed, sar["records"])
            with open(paths["sar_json"], "w") as f:
                json.dump(records, f)
            sar_slice(records, paths["sar_slice"], sar["slice"], sar["crop"])
            sar_test(paths["sar_test"], seed, sar["test_rows"])

        _once(os.path.join(base, "sar"), make)
        out.update(paths)
    return out
