"""Seeded input generators for the benchmark workloads.

Two input families; a run writes the one its workload reads:

* ``tables/`` - the synthetic star schema plus ``events``, ``documents``
  and ``embeddings`` that the engine's queries read (same schemas and
  value domains as the sf tables the engine is developed against, at
  the sf0.01 row counts). A fixed base corpus is drawn once from a
  constant seed; ``--seed`` then re-keys it bijectively: customer, order,
  user, event, document and vector ids are permuted consistently across
  every foreign key, and the row order of every table is shuffled.
  Sizes, timestamps, numbers and text stay unchanged, so two seeds give
  the same row counts and the same plans.
* ``alaska/`` - the service-area pipeline inputs in the format of the
  pipeline's test fixtures (certificate CSV, chronology CSV, one KML per
  certificate), plus the KML rewrites and longer chronologies the harness
  swaps in between publishes. The layout is the same for every seed; the
  seed draws certificate numbers, names, places and dates.

    python3 perfbench/gen.py <out dir> <seed> <workload>
"""

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

# sf0.01 row counts
N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM = 15000, 60000
N_EVENTS, N_USERS = 10000, 150
N_DOCS, N_VECS, DIM = 500, 500, 64

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def _ts_us(year, month, day):
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us")
               .astype(np.int64))


def base_tables():
    """The un-keyed base corpus; identical for every seed."""
    rng = np.random.default_rng(BASE_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE",
                     "HOUSEHOLD"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": segs[rng.integers(0, 5, N_CUSTOMER)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)})
    adj = "small red blue hot old large cold green".split()
    noun = "ring widget bolt gear gizmo plate nut spring".split()
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE",
                      "STANDARD"])
    pk = np.arange(N_PART, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": types[rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    d0, d1 = _ts_us(1995, 1, 1), _ts_us(2001, 8, 1)
    day = 86_400_000_000
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": pa.array(
            d0 + rng.integers(0, (d1 - d0) // day + 1, N_ORDERS) * day,
            pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, N_ORDERS)]})
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    s0, s1 = _ts_us(1995, 1, 2), _ts_us(2001, 11, 4)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINEITEM),
                                    2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": pa.array(
            s0 + rng.integers(0, (s1 - s0) // day + 1, N_LINEITEM) * day,
            pa.timestamp("us"))})
    e0 = _ts_us(2024, 1, 1)
    ts = np.sort(e0 + rng.integers(0, 30 * day, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": np.array(["click", "signup", "error", "view",
                                "purchase"])[rng.integers(0, 5, N_EVENTS)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, N_EVENTS),
                                           2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    texts = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                src[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src) + " dup")
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS), n)))
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"])
    t["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = rng.normal(0, 0.14 / np.sqrt(DIM), (10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + rng.normal(0, 1 / np.sqrt(DIM), (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def rekey(t, seed):
    """Bijective id permutation + row shuffle; everything else unchanged."""
    rng = np.random.default_rng(seed)
    perms = {k: rng.permutation(n) for k, n in [
        ("cust", N_CUSTOMER), ("order", N_ORDERS), ("user", N_USERS),
        ("event", N_EVENTS), ("doc", N_DOCS), ("vec", N_VECS)]}
    remap = {
        "customer": {"c_custkey": "cust"},
        "orders": {"o_orderkey": "order", "o_custkey": "cust"},
        "lineitem": {"l_orderkey": "order"},
        "events": {"event_id": "event", "user_id": "user"},
        "documents": {"doc_id": "doc"},
        "embeddings": {"vec_id": "vec"},
    }
    out = {}
    for name, tab in t.items():
        for c, p in remap.get(name, {}).items():
            i = tab.schema.get_field_index(c)
            mapped = perms[p][tab.column(c).to_numpy()].astype(np.int64)
            tab = tab.set_column(i, c, pa.array(mapped, pa.int64()))
        out[name] = tab.take(pa.array(rng.permutation(tab.num_rows)))
    return out


def write_tables(root, seed):
    os.makedirs(root, exist_ok=True)
    rows = {}
    for name, tab in rekey(base_tables(), seed).items():
        pq.write_table(tab, os.path.join(root, f"{name}.parquet"))
        rows[name] = tab.num_rows
    return rows


# ---------------------------------------------------------------- alaska

N_CERTS, N_KML, N_CHRON = 170, 130, 1000
NAME_WORDS = ("NORTH SOUTH RIVER BAY VILLAGE ELECTRIC POWER LIGHT COOPERATIVE "
              "UTILITY ASSOCIATION ISLAND CREEK LAKE MOUNTAIN KENAI YUKON "
              "ARCTIC TUNDRA HARBOR").split()
CHRON_TYPES = ["Original Certificate", "Amendment", "Service Area Change",
               "Deregulated", "Controlling Interest", "Transfer"]
MUTATION_STEPS, MUTATED_PER_STEP, CHRON_VERSIONS, CHRON_APPEND = 8, 3, 3, 20
# Size calibration against the reference's byte totals (BASELINE.md): its
# 130 KMLs hold 1,708,065 bytes and its raw layer (130 features) 1,343,885
# bytes. RING_MEDIAN (vertices per outer ring, log-normal median) sets the
# vertex total, which both files scale with; KML_TUPLE_SEP is the
# separator between coordinate tuples, one tuple per tab-indented line as
# GIS exports write them, which sets the KML bytes per vertex. Measured
# sizes are in README.md.
RING_MEDIAN, RING_SIGMA = 240, 0.8
KML_TUPLE_SEP = "\n" + "\t" * 6


def _ring(rng, lon, lat, radius, n, twisted):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    wobble = 1 + 0.25 * np.sin(ang * rng.integers(2, 7)) + \
        rng.uniform(-0.05, 0.05, n)
    pts = np.stack([lon + radius * wobble * np.cos(ang) / np.cos(
        np.radians(lat)), lat + radius * wobble * np.sin(ang)], axis=1)
    if twisted:  # reverse a run of vertices: the ring crosses itself
        i = int(rng.integers(1, n // 3))
        j = i + max(3, n // 3)
        pts[i:j] = pts[i:j][::-1].copy()
    return np.vstack([pts, pts[:1]])


def _coords(pts):
    return KML_TUPLE_SEP.join(f"{x:.6f},{y:.6f},0" for x, y in pts)


def _polygon(rng, lon, lat, radius, n, twisted, holed):
    s = ("<Polygon><outerBoundaryIs><LinearRing><coordinates>\n"
         + _coords(_ring(rng, lon, lat, radius, n, twisted))
         + "\n</coordinates></LinearRing></outerBoundaryIs>")
    if holed:
        s += ("<innerBoundaryIs><LinearRing><coordinates>\n"
              + _coords(_ring(rng, lon, lat, radius * 0.2, 16, False))
              + "\n</coordinates></LinearRing></innerBoundaryIs>")
    return s + "</Polygon>"


def _description(name, chron, html):
    plain = (f"Granted to: {name}<br><br>Utility Type: Electric<br><br>"
             f"CHRONOLOGY: {chron}<br>")
    esc = plain.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    if not html:
        return esc
    inner = esc.replace("&", "&amp;")
    wrap = ("<html> <table> <tr> <td> <table> <tr> <td>{}</td> </tr> "
            "</table> </td> </tr> </table> </html>")
    return wrap.replace("<", "&lt;").replace(">", "&gt;").format(inner)


def _structure(base):
    """Placemark layout of one KML file, drawn from the seed-independent
    base stream: [(vertices, twisted, holed, second_polygon)] per mark."""
    n_marks = 1 if base.random() < 0.85 else int(base.integers(2, 4))
    return [(int(np.clip(base.lognormal(np.log(RING_MEDIAN), RING_SIGMA), 12, 2000)),
             bool(base.random() < 0.15), bool(base.random() < 0.05),
             bool(k == 0 and base.random() < 0.1)) for k in range(n_marks)]


def _kml(rng, cert, name, shape, chron, html, structure):
    lon, lat, radius = shape
    marks = []
    # separate placemarks and polygons of one certificate never overlap
    # (the pipeline collects them without dissolving)
    step = 3.5 * radius / np.cos(np.radians(lat))
    for k, (n, twisted, holed, multi) in enumerate(structure):
        geom = _polygon(rng, lon + 2 * k * step, lat, radius, n,
                        twisted, holed)
        if multi:  # two polygons in one placemark
            geom = ("<MultiGeometry>" + geom + _polygon(
                rng, lon + step, lat, radius / 2, max(12, n // 4),
                False, False) + "</MultiGeometry>")
        desc = (f"<description>{_description(name, chron, html)}"
                "</description>\n") if k == 0 else ""
        marks.append(f"<Placemark><name>Certificate No. {cert} part {k}"
                     f"</name>\n{desc}{geom}</Placemark>")
    return ('<?xml version="1.0" encoding="UTF-8"?>\n'
            '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>\n'
            + "\n".join(marks) + "\n</Document></kml>\n")


def write_alaska(root, seed):
    """Writes the pipeline inputs; returns the expected-output facts.

    The layout (statuses, which certificates have KMLs, vertex counts,
    self-intersecting rings, merges) comes from a seed-independent base
    stream and is identical for every seed; ``seed`` draws the certificate
    numbers, names, places, dates and the mutation plan.
    """
    base = np.random.default_rng(BASE_SEED + 1)
    rng = np.random.default_rng([seed, 0xA1A5CA])
    if os.path.exists(root):
        shutil.rmtree(root)
    for d in ("kml", "mutations", "chron_versions"):
        os.makedirs(os.path.join(root, d))
    statuses = base.choice(["Active", "Inactive", "Revoked"], N_CERTS,
                           p=[0.85, 0.1, 0.05])
    has_kml = np.zeros(N_CERTS, bool)
    has_kml[base.choice(N_CERTS, N_KML, replace=False)] = True
    structures = [_structure(base) for _ in range(N_CERTS)]
    active_kml = [i for i in range(N_CERTS)
                  if has_kml[i] and statuses[i] == "Active"]
    pick = [int(i) for i in base.choice(active_kml, 24, replace=False)]
    gated_short = base.random(N_CERTS) < 0.1

    nums = rng.choice(np.arange(1, 800), N_CERTS, replace=False)
    num = lambda i: int(nums[i])
    certs = []
    for i in range(N_CERTS):
        words = rng.choice(NAME_WORDS, int(rng.integers(2, 5)), replace=False)
        certs.append({"num": num(i), "name": " ".join(words),
                      "entity": "".join(rng.choice(list("ABCDEFGHKLMNPRSTVW"),
                                                   int(rng.integers(3, 7)))),
                      "status": str(statuses[i])})
    certs.sort(key=lambda c: c["num"])
    by_num = {c["num"]: c for c in certs}
    struct_of = {num(i): structures[i] for i in range(N_CERTS)}
    active = [num(i) for i in range(N_CERTS) if statuses[i] == "Active"]
    kml_certs = sorted(num(i) for i in range(N_CERTS) if has_kml[i])
    operators = [num(i) for i in pick[:8]]
    inactive_extra = [num(i) for i in pick[8:12]]
    acquirers = [num(i) for i in pick[12:15]]
    acquired = [num(i) for i in pick[15:22]]
    # each acquired cert folds into one acquirer; gate 5 of 7 on the KML
    # date (one of them deliberately stale, so its patch is skipped)
    merges = [(acquirers[i % 3], f) for i, f in enumerate(acquired)]
    shapes, kml_dates, chron_texts = {}, {}, {}
    for c in kml_certs:
        shapes[c] = (float(rng.uniform(-165, -135)),
                     float(rng.uniform(55, 70)), float(rng.uniform(0.2, 1.2)))
    for to, f in merges:  # acquired service areas overlap their acquirer
        lon, lat, r = shapes[to]
        shapes[f] = (lon + rng.uniform(-r, r), lat + rng.uniform(-r, r) / 2,
                     r * rng.uniform(0.4, 0.9))
    short_year = {num(i) for i in range(N_CERTS) if gated_short[i]}
    for c in kml_certs:
        m, d, y = int(rng.integers(1, 13)), int(rng.integers(10, 29)), \
            int(rng.integers(1985, 2025))
        kml_dates[c] = f"{m}/{d}/{y}"
        short = c in short_year and c not in acquired
        chron_texts[c] = (f"Service Area Change {m}/{d}/"
                          + (f"{y % 100:02d}" if short else str(y)))
    gates = {f: kml_dates[f] for _, f in merges[:5]}
    gates[merges[4][1]] = "1/15/1901"  # stale: this patch is skipped
    applied = [(to, f) for to, f in merges
               if f not in gates or gates[f] == kml_dates[f]]
    html = set(int(x) for x in rng.choice(kml_certs, 6, replace=False))

    def kml(c, shape):
        return _kml(rng, c, by_num[c]["name"], shape, chron_texts[c],
                    c in html, struct_of[c])

    for c in kml_certs:
        with open(os.path.join(root, "kml", f"{c}-servicearea.kml"),
                  "w") as fh:
            fh.write(kml(c, shapes[c]))
    # mutation pool: rewritten geometry (same layout and description) for
    # certs outside every merge, so the expected output facts never change
    free = [c for c in kml_certs if c not in dict(merges) and
            c not in acquired]
    for step in range(MUTATION_STEPS):
        sd = os.path.join(root, "mutations", str(step))
        os.makedirs(sd)
        for c in rng.choice(free, MUTATED_PER_STEP, replace=False):
            c = int(c)
            lon, lat, r = shapes[c]
            with open(os.path.join(sd, f"{c}-servicearea.kml"), "w") as fh:
                fh.write(kml(c, (lon + rng.uniform(-0.05, 0.05), lat, r)))
    with open(os.path.join(root, "certificates.csv"), "w") as fh:
        fh.write("certificate_number,certificate_type,entity,"
                 "certificate_name,utility_type,certificate_status,"
                 "cpcn_url,entity_url\n")
        for c in certs:
            n = c["num"]
            fh.write(f"{n},CPCN,{c['entity']},{c['name']},Electric,"
                     f"{c['status']},https://rca.example/{n},"
                     f"https://rca.example/e{n}\n")
        fh.write(",CPCN,,BROKEN ROW NO NUMBER,Electric,Active,,\n")

    def chron_row(k):
        c = num(int(rng.integers(0, N_CERTS)))
        m, d, y = rng.integers(1, 13), rng.integers(1, 29), \
            rng.integers(1960, 2025)
        r = rng.random()
        date = "" if r < 0.1 else (f"{m}/{d}/{y % 100:02d}" if r < 0.3
                                   else f"{m}/{d}/{y}")
        typ = CHRON_TYPES[int(rng.integers(0, len(CHRON_TYPES)))]
        return (f"{c},U-{y % 100:02d}-{int(rng.integers(1, 200))},{k},"
                f"{date},{typ},generated row {k}\n")

    header = "certificate,docket_number,order_number,order_date,type,comment\n"
    base_rows = [chron_row(k) for k in range(N_CHRON)]
    with open(os.path.join(root, "chronology.csv"), "w") as fh:
        fh.write(header + "".join(base_rows))
    rows = list(base_rows)
    for v in range(1, CHRON_VERSIONS + 1):
        rows += [chron_row(len(rows)) for _ in range(CHRON_APPEND)]
        with open(os.path.join(root, "chron_versions", f"v{v}.csv"),
                  "w") as fh:
            fh.write(header + "".join(rows))
    with open(os.path.join(root, "config.txt"), "w") as fh:
        fh.write("operators " + " ".join(map(str, operators)) + "\n")
        fh.write("inactive " + " ".join(map(str, inactive_extra)) + "\n")
        for to, f in merges:
            fh.write(f"merge {to} {f}\n")
        for f, d in sorted(gates.items()):
            fh.write(f"expect {f} {d}\n")
    cleaned = set(active) - set(operators) - set(inactive_extra)
    target = dict((f, to) for to, f in applied)
    published = {target.get(c, c) for c in kml_certs} & cleaned
    kml_dir = os.path.join(root, "kml")
    facts = {"certs": len(certs) + 1, "kml_files": len(kml_certs),
             "kml_bytes": sum(os.path.getsize(os.path.join(kml_dir, f))
                              for f in os.listdir(kml_dir)),
             "chron_rows": N_CHRON, "raw_features": len(kml_certs),
             "published_features": len(published),
             "merges_applied": len(applied), "merges": len(merges)}
    with open(os.path.join(root, "expected.json"), "w") as fh:
        json.dump(facts, fh)
    return facts


def generate(root, seed, workload):
    """Writes only the inputs ``workload`` reads; returns their facts."""
    if workload == "alaska_publish":
        return {"alaska": write_alaska(os.path.join(root, "alaska"), seed)}
    return {"table_rows": write_tables(os.path.join(root, "tables"), seed)}


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
