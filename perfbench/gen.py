"""Seeded input generator (DuckDB SQL -> parquet).

Every value is a pure function of (seed, row key, salt) through DuckDB's
hash(), so a seed always writes the same rows. Two table sets:

- registry tables: the TPC-H-shaped star schema plus events, documents
  and embeddings, with the schema and value domains of the shipped
  sf dirs (sizes = f x sf0.01). `copies` > 1 replicates documents and
  embeddings by key shift, the tools/make_scaled_sf.py scheme, with a
  seeded perturbation per copy (a suffixed word every third position,
  a rotated vector), so copies are near- but not exact duplicates.
- theme tables: flat Overture-shaped places, buildings, transportation
  and base tables for the catalog pipeline, with nullable names, a
  share of names over 255 characters, `categories` as a JSON string and
  x/y inside the Kenya bounding box; plus upsert batches for the places
  layer (changed and new ids).
"""
from pathlib import Path

import duckdb

VOCAB = ("join hash row batch scan column customer filter small slow merge order vector line table "
         "data agg value key stream window a spark part group big sort query fast the").split()
PLACE_CATEGORIES = ["school", "college", "university", "hospital", "clinic", "pharmacy",
                    "marketplace", "supermarket", "restaurant", "cafe", "bank", "hotel",
                    "church", "mosque", "fuel_station", "bus_station"]
BUILDING_CLASSES = ["residential", "house", "commercial", "retail", "school", "university",
                    "hospital", "industrial", "church", "office"]
BOX = (33.9, -4.7, 41.9, 5.5)


def _lst(xs):
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def _connect(seed):
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")
    con.execute("SET preserve_insertion_order=true")
    con.execute(f"CREATE MACRO u(k, salt) AS (hash(k, {seed}, salt) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO ri(k, salt, lo, hi) AS (lo + floor(u(k, salt) * (hi - lo + 1)))::INTEGER")
    con.execute("CREATE MACRO pick(k, salt, xs) AS xs[1 + floor(u(k, salt) * len(xs))::INTEGER]")
    return con


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
    return con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]


def registry_tables(out: Path, seed: int, f: float, copies: int = 1) -> dict:
    out.mkdir(parents=True, exist_ok=True)
    con = _connect(seed)
    n_cust, n_supp, n_part = int(1500 * f), max(10, int(100 * f)), int(2000 * f)
    n_ord, n_ev, n_users = int(15000 * f), int(10000 * f), max(10, int(150 * f))
    n_doc, n_vec = int(500 * f), int(500 * f)
    ev_step = 30 * 86400 * 1000000 // max(1, n_ev)
    vocab = _lst(VOCAB)
    sql = {
        "region": "SELECT i::INTEGER AS r_regionkey, "
                  "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                  "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
        "customer": f"SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
                    f"ri(i, 1, 0, 24) AS c_nationkey, round(u(i, 2) * 11000 - 1000, 2) AS c_acctbal, "
                    f"pick(i, 3, ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']) AS c_mktsegment "
                    f"FROM range({n_cust}) t(i)",
        "supplier": f"SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
                    f"ri(i, 4, 0, 24) AS s_nationkey, round(u(i, 5) * 11000 - 1000, 2) AS s_acctbal "
                    f"FROM range({n_supp}) t(i)",
        "part": f"SELECT i::BIGINT AS p_partkey, "
                f"pick(i, 6, ['small','red','blue','green','large','steel','brass','old']) || ' ' || "
                f"pick(i, 7, ['ring','widget','bolt','anvil','gear','valve','spring','lever']) AS p_name, "
                f"'Brand#' || ri(i, 8, 1, 25) AS p_brand, "
                f"pick(i, 9, ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD']) AS p_type, "
                f"ri(i, 10, 1, 50) AS p_size, 900.0 + (i % 1000) / 10.0 AS p_retailprice "
                f"FROM range({n_part}) t(i)",
        "orders": f"SELECT i::BIGINT AS o_orderkey, floor(u(i, 11) * {n_cust})::BIGINT AS o_custkey, "
                  f"pick(i, 12, ['F','O','P']) AS o_orderstatus, round(u(i, 13) * 499000 + 1000, 2) AS o_totalprice, "
                  f"TIMESTAMP '1995-01-01' + to_days(floor(u(i, 14) * 2404)::INTEGER) AS o_orderdate, "
                  f"pick(i, 15, ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']) AS o_orderpriority "
                  f"FROM range({n_ord}) t(i)",
        "lineitem": f"SELECT floor(u(i, 16) * {n_ord})::BIGINT AS l_orderkey, "
                    f"floor(u(i, 17) * {n_part})::BIGINT AS l_partkey, floor(u(i, 18) * {n_supp})::BIGINT AS l_suppkey, "
                    f"ri(i, 19, 1, 7) AS l_linenumber, ri(i, 20, 1, 50)::DOUBLE AS l_quantity, "
                    f"round(u(i, 21) * 104000 + 900, 2) AS l_extendedprice, ri(i, 22, 0, 10) / 100.0 AS l_discount, "
                    f"ri(i, 23, 0, 8) / 100.0 AS l_tax, pick(i, 24, ['A','N','R']) AS l_returnflag, "
                    f"pick(i, 25, ['F','O']) AS l_linestatus, "
                    f"TIMESTAMP '1995-01-02' + to_days(floor(u(i, 26) * 2498)::INTEGER) AS l_shipdate "
                    f"FROM range({4 * n_ord}) t(i)",
        "events": f"SELECT i::BIGINT AS event_id, "
                  f"TIMESTAMP '2024-01-01' + to_microseconds((i * {ev_step} + floor(u(i, 27) * {ev_step}))::BIGINT) AS ts, "
                  f"floor(u(i, 28) * {n_users})::BIGINT AS user_id, "
                  f"pick(i, 29, ['click','error','purchase','signup','view']) AS event_type, "
                  f"round(u(i, 30) * 490 + 0.01, 2) AS value, '{{\"k\": ' || ri(i, 31, 0, 99) || '}}' AS props "
                  f"FROM range({n_ev}) t(i)",
        # ~5% of documents are planted near-duplicates: an earlier
        # document's text with ' dup' appended (the shipped corpus shape)
        "documents": f"""
            WITH fresh AS (
              SELECT i AS doc_id,
                array_to_string(list_transform(range(ri(i, 32, 8, 90)),
                  j -> {vocab}[1 + (hash(i, j, {seed}, 33) % {len(VOCAB)})::INTEGER]), ' ') AS text,
                pick(i, 34, ['en','de','es','fr','zh']) AS lang, 'src' || ri(i, 35, 0, 19) AS source,
                u(i, 36) < 0.05 AND i > 0 AS is_dup, floor(u(i, 37) * i)::BIGINT AS dup_of
              FROM range({n_doc}) t(i)),
            base AS (
              SELECT d.doc_id, CASE WHEN d.is_dup THEN s.text || ' dup' ELSE d.text END AS text, d.lang, d.source
              FROM fresh d LEFT JOIN fresh s ON d.is_dup AND s.doc_id = d.dup_of),
            copies AS (
              SELECT (b.doc_id + c * {n_doc})::BIGINT AS doc_id,
                CASE WHEN c = 0 THEN b.text ELSE array_to_string(list_transform(string_split(b.text, ' '),
                  (w, j) -> CASE WHEN (j + c + {seed}) % 3 = 0 THEN w || '-' || c ELSE w END), ' ') END AS text,
                b.lang, b.source
              FROM base b, range({copies}) r(c))
            SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM copies ORDER BY doc_id""",
        "embeddings": f"""
            WITH raw AS (
              SELECT i AS vec_id, ri(i, 41, 0, 9) AS label,
                list_transform(range(64), d -> 0.6 * ((hash(ri(i, 41, 0, 9), d, {seed}, 40) % 2001) / 1000.0 - 1)
                  + ((hash(i, d, {seed}, 42) % 2001) / 1000.0 - 1)) AS v
              FROM range({n_vec}) t(i)),
            normed AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM raw)
            SELECT (vec_id + c * {n_vec})::BIGINT AS vec_id,
              list_transform(range(64), d -> (v[1 + ((d + c) % 64)::INTEGER] / norm)::FLOAT) AS embedding,
              label
            FROM normed, range({copies}) r(c) ORDER BY vec_id""",
    }
    return {t: _copy(con, q, out / f"{t}.parquet") for t, q in sql.items()}


def _xy():
    x0, y0, x1, y1 = BOX
    return (f"round({x0} + u(i, 50) * {x1 - x0}, 6) AS x, round({y0} + u(i, 51) * {y1 - y0}, 6) AS y")


def _name(prefix):
    # nullable; 3% are longer than 255 characters
    return (f"CASE WHEN u(i, 52) < 0.15 THEN NULL "
            f"WHEN u(i, 52) < 0.18 THEN '{prefix}' || i || ' ' || repeat('long name ', 30) "
            f"ELSE '{prefix}' || i END AS name")


def _places(rows_sql):
    cats = _lst(PLACE_CATEGORIES)
    return (f"SELECT 'p' || i AS id, {_name('place ')}, "
            f"'{{\"primary\":\"' || pick(i, 53, {cats}) || '\",\"alternate\":[\"' || pick(i, 54, {cats}) || '\"]}}' "
            f"AS categories, round(u(i, 55), 3) AS confidence, "
            f"CASE WHEN u(i, 56) < 0.3 THEN NULL ELSE ri(i, 57, 1, 999) || ' Moi Avenue' END AS address, {_xy()} "
            f"FROM {rows_sql}")


def theme_tables(out: Path, seed: int, places: int, buildings: int, roads: int, base: int) -> dict:
    out.mkdir(parents=True, exist_ok=True)
    con = _connect(seed)
    sql = {
        "places": _places(f"range({places}) t(i)"),
        "buildings": f"SELECT 'b' || i AS id, {_name('building ')}, pick(i, 58, {_lst(BUILDING_CLASSES)}) AS class, "
                     f"CASE WHEN u(i, 59) < 0.4 THEN NULL ELSE round(u(i, 60) * 40 + 3, 1) END AS height, "
                     f"CASE WHEN u(i, 61) < 0.5 THEN NULL ELSE ri(i, 62, 1, 12) END AS num_floors, {_xy()} "
                     f"FROM range({buildings}) t(i)",
        "transportation": f"SELECT 't' || i AS id, {_name('road ')}, "
                          f"pick(i, 63, ['road','road','road','rail','water']) AS subtype, "
                          f"pick(i, 64, ['primary','secondary','tertiary','residential','footway','track']) AS class, "
                          f"round(u(i, 65) * 2000, 1) AS length_m, {_xy()} FROM range({roads}) t(i)",
        "base": f"SELECT 's' || i AS id, {_name('infra ')}, pick(i, 66, ['power','power','water','land']) AS subtype, "
                f"pick(i, 67, ['power_line','minor_line','substation','plant','tower']) AS class, "
                f"pick(i, 68, ['Point','LineString','Polygon']) AS geometry_type, {_xy()} FROM range({base}) t(i)",
    }
    sizes = {"places": places, "buildings": buildings, "transportation": roads, "base": base}
    return {t: _copy(con, q, out / f"{t}.parquet") for t, q in sql.items() if sizes[t] > 0}


def upsert_batch(out: Path, seed: int, layer_rows: int, rnd: int, changed: int, fresh: int) -> int:
    """A places batch: `changed` existing ids (seeded per round) with a
    new confidence, plus `fresh` ids never seen before."""
    out.mkdir(parents=True, exist_ok=True)
    con = _connect(seed)
    old = (f"(SELECT DISTINCT floor(u(k, {70 + rnd}) * {layer_rows})::BIGINT AS i "
           f"FROM range({changed}) t(k)) t")
    new = f"(SELECT k + {layer_rows + rnd * 1000000} AS i FROM range({fresh}) t(k)) t"
    sql = (f"SELECT * REPLACE (round(u(id, {80 + rnd}), 3) AS confidence) FROM ({_places(old)}) "
           f"UNION ALL {_places(new)}")
    return _copy(con, sql, out / "places.parquet")
