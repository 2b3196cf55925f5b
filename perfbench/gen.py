"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed writes the
same bytes. Three kinds of input:

- sensor files for the ingest workloads, in the reference's 22-column
  smart-farming layout, with a known number of rows of each bad-row family
  (the ground truth the ingest checks compare the sinks against);
- the ten analytical tables the query mix reads (the TPC-H-like star plus
  events, documents and embeddings), in the testdata's physical types;
- the document corpus the state loop slices (the `documents` table).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sensors

SENSOR_COLUMNS = [
    ("farm_id", "string"), ("region", "string"), ("crop_type", "string"),
    ("soil_moisture_%", "float"), ("soil_pH", "float"),
    ("temperature_C", "float"), ("rainfall_mm", "float"),
    ("humidity_%", "float"), ("sunlight_hours", "float"),
    ("irrigation_type", "string"), ("fertilizer_type", "string"),
    ("pesticide_usage_ml", "float"), ("sowing_date", "date"),
    ("harvest_date", "date"), ("total_days", "integer"),
    ("yield_kg_per_hectare", "float"), ("sensor_id", "string"),
    ("timestamp", "timestamp"), ("latitude", "double"),
    ("longitude", "double"), ("NDVI_index", "float"),
    ("crop_disease_status", "string"),
]
# the rules the pipeline is configured with (the reference's Main.py rules)
KEY_FIELDS = ["sensor_id", "timestamp", "temperature_C"]
# bad-row families, in the validation cascade's first-error-wins order
FAMILIES = ["null_key", "numeric", "range", "heavy_null"]
# stem before the first dot: every file shares one schema and one table
STEM = "sensors"


def schema_json() -> str:
    """Spark StructType JSON for the sensor files (SchemaRegistry format)."""
    return json.dumps({"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in SENSOR_COLUMNS]})


def bad_counts(rows: int) -> dict:
    """Rows of each bad family in a file of `rows` rows: 1 % each, at least one."""
    k = max(1, rows // 100)
    return {f: k for f in FAMILIES}


def _dates(rng, n, start, span_days):
    base = np.datetime64(start)
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype(str)


def sensor_rows(rng, rows: int):
    """Column dict of `rows` sensor rows (Python objects, None = null) and
    the per-family bad-row counts planted in them."""
    n = rows
    pick = lambda opts: np.array(opts, dtype=object)[rng.integers(0, len(opts), n)]
    sow = np.datetime64("2024-01-01") + rng.integers(0, 90, n).astype("timedelta64[D]")
    days = rng.integers(90, 151, n)
    cols = {
        "farm_id": [f"FARM{i:04d}" for i in rng.integers(1, 1000, n)],
        "region": pick(["North India", "South USA", "Central USA", "East Africa", "South India"]),
        "crop_type": pick(["Wheat", "Soybean", "Maize", "Rice", "Cotton"]),
        "soil_moisture_%": np.round(rng.uniform(10, 45, n), 2),
        "soil_pH": np.round(rng.uniform(5.5, 7.5, n), 2),
        "temperature_C": np.round(rng.uniform(15, 35, n), 2),
        "rainfall_mm": np.round(rng.uniform(50, 300, n), 2),
        "humidity_%": np.round(rng.uniform(40, 90, n), 2),
        "sunlight_hours": np.round(rng.uniform(4, 10, n), 2),
        "irrigation_type": pick(["None", "Drip", "Sprinkler", "Manual"]),
        "fertilizer_type": pick(["Organic", "Inorganic", "Mixed"]),
        "pesticide_usage_ml": np.round(rng.uniform(5, 50, n), 2),
        "sowing_date": sow.astype(str),
        "harvest_date": (sow + days.astype("timedelta64[D]")).astype(str),
        "total_days": days,
        "yield_kg_per_hectare": np.round(rng.uniform(2000, 6000, n), 2),
        "sensor_id": [f"SENS{i:04d}" for i in rng.integers(0, 200, n)],
        "timestamp": _dates(rng, n, "2024-03-01", 120),
        "latitude": np.round(rng.uniform(10, 35, n), 6),
        "longitude": np.round(rng.uniform(70, 90, n), 6),
        "NDVI_index": np.round(rng.uniform(0.3, 0.9, n), 2),
        "crop_disease_status": pick(["None", "Mild", "Moderate", "Severe"]),
    }
    cols = {k: list(v.tolist() if isinstance(v, np.ndarray) else v) for k, v in cols.items()}
    counts = bad_counts(rows)
    slots = rng.permutation(n)
    at = 0
    non_key = [c for c, _ in SENSOR_COLUMNS if c not in KEY_FIELDS]
    for fam in FAMILIES:
        for r in slots[at:at + counts[fam]]:
            if fam == "null_key":
                cols["sensor_id"][r] = None
            elif fam == "numeric":
                cols["temperature_C"][r] = float("nan")
            elif fam == "range":
                sign = 1 if rng.random() < 0.5 else -1
                cols["temperature_C"][r] = sign * round(float(rng.uniform(51, 80)), 2)
            else:  # heavy_null: 12 of the 22 columns null, keys intact
                for c in rng.choice(non_key, 12, replace=False):
                    cols[c][r] = None
        at += counts[fam]
    return cols, counts


def _csv_cell(v):
    if v is None:
        return ""
    if isinstance(v, float) and v != v:
        return "NaN"
    s = str(v)
    return f'"{s}"' if ("," in s or '"' in s) else s


def render(cols: dict, fmt: str) -> str:
    names = [c for c, _ in SENSOR_COLUMNS]
    n = len(cols[names[0]])
    if fmt == "csv":
        lines = [",".join(names)]
        lines += [",".join(_csv_cell(cols[c][i]) for c in names) for i in range(n)]
    else:  # line-delimited JSON; json.dumps writes NaN as the bare token
        lines = [json.dumps({c: cols[c][i] for c in names}) for i in range(n)]
    return "\n".join(lines) + "\n"


def file_name(seq: int, due_ms: int, fmt: str) -> str:
    """`sensors.<seq>.d<due ms after window start>.<fmt>`: the stem before
    the first dot names the schema and table, the due time rides along."""
    return f"{STEM}.{seq:06d}.d{due_ms:08d}.{fmt}"


def write_sensor_files(out_dir: str, seed: int, n_files: int, rows: int,
                       rate: float = 0.0) -> dict:
    """Write `n_files` sensor files of `rows` rows into out_dir; every
    second file is JSON, the others CSV, and file i is due at i / rate
    seconds (0 when rate is 0: a backlog). Returns the ground truth:
    per-file totals and the expected sink counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    files, totals = [], {"files": 0, "rows": 0, "good": 0, "bad": 0}
    totals.update({f: 0 for f in FAMILIES})
    for i in range(n_files):
        fmt = "json" if i % 2 else "csv"
        due = int(round(1000.0 * i / rate)) if rate > 0 else 0
        cols, counts = sensor_rows(rng, rows)
        name = file_name(i, due, fmt)
        with open(os.path.join(out_dir, name), "w") as f:
            f.write(render(cols, fmt))
        bad = sum(counts.values())
        files.append({"name": name, "rows": rows, "bad": bad, "due_ms": due})
        totals["files"] += 1
        totals["rows"] += rows
        totals["bad"] += bad
        totals["good"] += rows - bad
        for k, v in counts.items():
            totals[k] += v
    return {"files": files, "totals": totals}


# ---------------------------------------------------------------- tables

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def documents(rng, n: int) -> pa.Table:
    """n documents of random words; 5 % are a near-duplicate of an earlier
    document with ` dup` appended (the dedup queries' signal)."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"])[rng.integers(0, 7, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _ts(base: str, offsets_us) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + np.asarray(offsets_us, dtype=np.int64), pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict:
    """The query mix's ten tables at scale factor `sf` (lineitem ~ 6e6*sf
    rows), with n_docs documents and n_vecs 64-d unit embeddings. Returns
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord = int(1500000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD",
                                  "FURNITURE"])[rng.integers(0, 5, n_cust)].tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array(["small", "red", "blue", "hot", "cold", "old", "large", "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "nut"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)],
                                               noun[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                            "PROMO"])[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day_us = 86400 * 10**6
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)].tolist()})
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    linenos = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    flags = rng.integers(0, 6, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(linenos),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2].tolist(),
        "l_linestatus": np.array(["O", "F"])[flags % 2].tolist(),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * day_us)})
    n_ev = int(1000000 * sf)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n_ev))),
        "user_id": pa.array(rng.integers(0, max(50, n_ev // 66), n_ev).astype(np.int64)),
        "event_type": np.array(["signup", "click", "error", "view",
                                "purchase"])[rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents(rng, n_docs)
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    for name, tab in t.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in t.items()}


def write_state_docs(path: str, seed: int, per_slice: int, slices: int) -> dict:
    """The state loop's corpus: `documents` rows with a seeded `slice`
    (which step counts the document) and `forget_rank` (uniform in [0, 1);
    the forget batch takes the counted documents of lowest rank)."""
    rng = np.random.default_rng(seed)
    n = per_slice * slices
    t = documents(rng, n)
    t = t.append_column("slice", pa.array((rng.permutation(n) // per_slice).astype(np.int32)))
    t = t.append_column("forget_rank", pa.array(rng.random(n)))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t, path)
    return {"docs": n}
