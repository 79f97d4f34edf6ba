"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs. Nothing here reads data from outside the output
directory it is given.

  tables()    TPC-H-shaped star schema plus the events, documents and
              embeddings tables, with the schema, row counts and value
              ranges the query registry expects (uniform keys, a 5% share
              of near-duplicate documents, unit-norm 64-d embeddings).
              They reproduce the shape of the repository's sf0.1 test
              data, including its non-TPC-H lineitem: l_orderkey drawn
              uniformly and l_linenumber uniform in 1..7, so the pair
              (l_orderkey, l_linenumber) is not unique. tables_profile.json
              holds the evidence, made with profile().
  scaleup()   replicates a tables() directory: fact keys offset per copy,
              documents and embeddings cloned with seeded perturbation
              (word swaps, vector noise), dimensions copied once.
  profile()   row counts, column types and ranges, and the key properties
              of a table directory, to compare generated tables with
              the test data they stand in for:
                python3 perfbench/gen.py profile <dir>
  forecast()  hourly OpenWeatherMap-shaped forecast fetches, one JSON
              document per city per cycle, 40 three-hourly points that
              overlap the previous fetch, with a seeded share of payloads
              missing `city` or `coord` or carrying an empty `weather`.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark "
         "a group part big sort query fast the").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
DESCRIPTIONS = ["clear sky", "few clouds", "scattered clouds", "broken clouds",
                "light rain", "moderate rain", "snow", "mist"]

US = 1_000_000


def _day_us(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * 86400 * US


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _doc_text(rng, n):
    lens = rng.integers(10, 100, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in idx[pos:pos + k]))
        pos += k
    # 5% near-duplicates: a copy of an earlier-or-later document plus a
    # trailing marker word, so every dedup family has true positives
    dups = rng.choice(n, n // 20, replace=False)
    src = rng.integers(0, n, len(dups))
    for d, s in zip(dups, src):
        if s != d:
            out[d] = out[s] + " dup"
    return out


def _unit_vectors(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def _vector_column(x):
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def tables(out, sf, seed):
    """Write the ten registry tables at scale `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(150, int(15_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    d0, d1 = _day_us(1995, 1, 1) // US // 86400, _day_us(2001, 8, 1) // US // 86400
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord) * 86400 * US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    s0, s1 = _day_us(1995, 1, 2) // US // 86400, _day_us(2001, 11, 4) // US // 86400
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_line) * 86400 * US)})
    e0 = _day_us(2024, 1, 1)
    ts = np.sort(rng.integers(e0, e0 + 30 * 86400 * US, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    text = _doc_text(rng, n_doc)
    lang = rng.choice(len(LANGS), n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": [LANGS[i] for i in lang],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": _vector_column(_unit_vectors(rng, n_emb)),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def _offset(tbl, col, off):
    i = tbl.schema.get_field_index(col)
    return tbl.set_column(i, tbl.schema.field(i),
                          pa.compute.add(tbl.column(col), off))


def _perturb_text(rng, texts):
    out = []
    for t in texts:
        words = t.split(" ")
        # one word in five swapped: clones stay near-duplicates of their
        # source but are not byte-identical to it
        swap = np.flatnonzero(rng.random(len(words)) < 0.2)
        for j in swap:
            words[j] = WORDS[rng.integers(0, len(WORDS))]
        out.append(" ".join(words))
    return out


def scaleup(src, out, copies, seed):
    """Replicate the tables in `src` `copies` times into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, copies, 7])
    off = 10_000_000
    for name, keys in [("lineitem", ["l_orderkey"]), ("orders", ["o_orderkey"]),
                       ("events", ["event_id", "user_id"])]:
        base = pq.read_table(os.path.join(src, f"{name}.parquet"))
        parts = []
        for i in range(copies):
            t = base
            for k in keys:
                t = _offset(t, k, i * off)
            parts.append(t)
        pq.write_table(pa.concat_tables(parts),
                       os.path.join(out, f"{name}.parquet"), compression="snappy")
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    parts = [docs]
    for i in range(1, copies):
        text = _perturb_text(rng, docs.column("text").to_pylist())
        t = _offset(docs, "doc_id", i * off)
        t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(text))
        t = t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                         pa.array([len(x) for x in text], pa.int64()))
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), os.path.join(out, "documents.parquet"),
                   compression="snappy")
    emb = pq.read_table(os.path.join(src, "embeddings.parquet"))
    x = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    parts = [emb]
    for i in range(1, copies):
        y = x + rng.normal(0.0, 0.02, x.shape)
        y /= np.linalg.norm(y, axis=1, keepdims=True)
        t = _offset(emb, "vec_id", i * off)
        t = t.set_column(t.schema.get_field_index("embedding"), "embedding",
                         _vector_column(y.astype(np.float32)))
        parts.append(t)
    pq.write_table(pa.concat_tables(parts), os.path.join(out, "embeddings.parquet"),
                   compression="snappy")
    for name in ["customer", "supplier", "part", "nation", "region"]:
        pq.write_table(pq.read_table(os.path.join(src, f"{name}.parquet")),
                       os.path.join(out, f"{name}.parquet"), compression="snappy")


def profile(d):
    """Row counts, column types and value ranges, and key properties of
    the ten tables in `d`."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(d, t + '.parquet')}'")
        cols = {}
        for c, ty, *_ in con.execute(f"DESCRIBE {t}").fetchall():
            if ty.endswith("[]"):
                lo, hi = con.execute(
                    f"SELECT min(len({c})), max(len({c})) FROM {t}").fetchone()
                cols[c] = {"type": ty, "len": [lo, hi]}
                continue
            mean = (f"avg({c})" if ty in ("DOUBLE", "BIGINT", "INTEGER")
                    else f"avg(length({c}))" if ty == "VARCHAR" else "NULL")
            lo, hi, nd, nn, m = con.execute(
                f"SELECT min({c}), max({c}), count(DISTINCT {c}), "
                f"count(*) - count({c}), {mean} FROM {t}").fetchone()
            cols[c] = {"type": ty, "min": str(lo), "max": str(hi),
                       "distinct": nd, "nulls": nn}
            if m is not None:
                cols[c]["mean"] = round(m, 2)
        out[t] = {"rows": con.execute(f"SELECT count(*) FROM {t}").fetchone()[0],
                  "columns": cols}
    one = lambda sql: [round(x, 3) if isinstance(x, float) else x
                       for x in con.execute(sql).fetchone()]
    out["keys"] = {
        "distinct (l_orderkey, l_linenumber)": one(
            "SELECT count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem")[0],
        "lines per order: min, max, mean": one(
            "SELECT min(c), max(c), avg(c) FROM "
            "(SELECT count(*) c FROM lineitem GROUP BY l_orderkey)"),
        "orders with no line": one(
            "SELECT count(*) FROM orders WHERE o_orderkey NOT IN "
            "(SELECT l_orderkey FROM lineitem)")[0],
        "lines with no order": one(
            "SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN "
            "(SELECT o_orderkey FROM orders)")[0],
        "orders with no customer": one(
            "SELECT count(*) FROM orders WHERE o_custkey NOT IN "
            "(SELECT c_custkey FROM customer)")[0],
        "events per user: min, max": one(
            "SELECT min(c), max(c) FROM "
            "(SELECT count(*) c FROM events GROUP BY user_id)"),
        "documents ending in 'dup'": one(
            "SELECT count(*) FROM documents WHERE text LIKE '% dup'")[0],
        "documents with an exact duplicate text": one(
            "SELECT count(*) - count(DISTINCT text) FROM documents")[0],
        "words per document: min, max": one(
            "SELECT min(len(string_split(text, ' '))), "
            "max(len(string_split(text, ' '))) FROM documents"),
        "embedding norm: min, max": one(
            "SELECT min(sqrt(list_sum(list_transform(embedding, x -> x * x)))), "
            "max(sqrt(list_sum(list_transform(embedding, x -> x * x)))) "
            "FROM embeddings"),
    }
    return out


def forecast(out, seed, cities, cycles, bad_share=0.02, points=40):
    """Write `cycles` hourly fetches for `cities` cities into `out`.

    Fetch c covers forecast steps c .. c+points-1 (three hours apart), so
    consecutive fetches overlap on points-1 steps per city. Returns the
    flat expected observations as a pyarrow table with a `cycle` column.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, cities, 11])
    base = _day_us(2024, 6, 3) // US  # a Monday, epoch seconds
    names = [f"City{i:04d}" for i in range(cities)]
    countries = [f"C{i % 40:02d}" for i in range(cities)]
    lat = np.round(rng.uniform(-60, 70, cities), 4)
    lon = np.round(rng.uniform(-180, 180, cities), 4)
    steps = cycles + points
    # one forecast value per (city, step): every fetch that covers a step
    # reports the same reading, so the dedup keeps a well-defined row
    temp = np.round(rng.uniform(250.0, 310.0, (cities, steps)), 2)
    hum = rng.integers(10, 101, (cities, steps))
    wind = np.round(rng.uniform(0.0, 20.0, (cities, steps)), 2)
    desc = rng.integers(0, len(DESCRIPTIONS), (cities, steps))
    exp = {k: [] for k in ["cycle", "country", "city", "latitude", "longitude",
                           "dt", "temp", "humidity", "wind", "description"]}
    for c in range(cycles):
        kind = rng.random(cities)
        lines = []
        for i in range(cities):
            bad = kind[i] < bad_share
            no_city = bad and kind[i] < bad_share / 3
            no_coord = bad and not no_city and kind[i] < 2 * bad_share / 3
            no_weather = bad and not no_city and not no_coord
            lst = []
            for s in range(c, c + points):
                d = DESCRIPTIONS[desc[i, s]]
                lst.append({
                    "dt": int(base + 3 * 3600 * s),
                    "main": {"temp": float(temp[i, s]), "humidity": int(hum[i, s])},
                    "wind": {"speed": float(wind[i, s])},
                    "weather": [] if no_weather else [{"description": d}]})
                exp["cycle"].append(c)
                exp["country"].append("" if no_city else countries[i])
                exp["city"].append("" if no_city else names[i])
                exp["latitude"].append(None if no_city or no_coord else float(lat[i]))
                exp["longitude"].append(None if no_city or no_coord else float(lon[i]))
                exp["dt"].append(int(base + 3 * 3600 * s))
                exp["temp"].append(float(temp[i, s]))
                exp["humidity"].append(int(hum[i, s]))
                exp["wind"].append(float(wind[i, s]))
                exp["description"].append("" if no_weather else d)
            doc = {"cod": "200", "message": 0, "cnt": points, "list": lst}
            if not no_city:
                city = {"id": i, "name": names[i], "country": countries[i]}
                if not no_coord:
                    city["coord"] = {"lat": float(lat[i]), "lon": float(lon[i])}
                doc["city"] = city
            lines.append(json.dumps(doc, separators=(",", ":")))
        with open(os.path.join(out, f"cycle_{c:05d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
    table = pa.table(exp)
    pq.write_table(table, os.path.join(out, "expected.parquet"))
    return table


if __name__ == "__main__":
    import sys
    if len(sys.argv) != 3 or sys.argv[1] != "profile":
        sys.exit("usage: python3 perfbench/gen.py profile <table dir>")
    print(json.dumps(profile(sys.argv[2]), indent=1))
