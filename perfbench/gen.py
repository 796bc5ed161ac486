"""Seeded input generators for the benchmark.

Two generators, both pure functions of (seed, size):

* ``gen_tables`` writes the harness tables (TESTDATA.md schemas) that the
  catalog queries read. It follows ``TestDataGen``: every value comes from
  Spark's ``xxhash64(id, salt)`` (re-implemented here bit for bit) mapped
  onto the same value domains, with the seed mixed into every salt, so
  seed 0 reproduces ``TestDataGen``'s xxhash-derived columns exactly.
* ``gen_landing`` writes a raw landing zone for the reference pipeline:
  ``applications.csv``, the four reference and four linkage CSVs, and one
  reviews file per day (a backfill, then daily increments), together with
  ``expect.json``, the generator's own account of what a correct pipeline
  run must land.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- xxhash64

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def xxhash64(ids, salt):
    """Spark's ``xxhash64(id: bigint, salt: int)`` (seed 42) over an array."""
    x = np.asarray(ids, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = np.full(x.shape, np.uint64(42) + _P5 + np.uint64(8), dtype=np.uint64)
        h = h ^ (_rotl(x * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        h = _fmix(h)
        h = h + _P5 + np.uint64(4)
        h = h ^ (np.uint64(salt & 0xFFFFFFFF) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        h = _fmix(h)
    return h.view(np.int64)


class _Hash:
    """TestDataGen's ``u``/``uLong``/``pick`` with the seed in every salt."""

    def __init__(self, seed):
        self.seed = seed

    def salt(self, s):
        return (s + 1009 * self.seed) % 2147483647

    def ulong(self, ids, s, n):
        return np.mod(xxhash64(ids, self.salt(s)), np.int64(n))

    def u(self, ids, s):
        return self.ulong(ids, s, 1000000000) / 1e9

    def pick(self, ids, s, values):
        return np.asarray(values, dtype=object)[self.ulong(ids, s, len(values))]


def _round2(x):
    return np.round(x, 2)


def _ntz(seconds):
    return pa.array(np.asarray(seconds, dtype=np.int64) * 1000000,
                    type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


# Row counts at sf0.1; a tier multiplies them by its scale.
BASE = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "events": 100000, "users": 1500, "documents": 5000, "embeddings": 2000}

VOCAB = ["spark", "batch", "line", "column", "order", "sort", "value", "scan",
         "hash", "group", "fast", "slow", "small", "part", "query", "table",
         "vector", "agg", "filter", "customer", "stream", "key", "the",
         "window", "join", "a", "g", "shuffle", "plan", "row", "cache"]
LANGS = ["en"] * 8 + ["de"] * 3 + ["fr"] * 3 + ["zh"] * 3 + ["es"] * 3
_GOLD = np.uint64(0x9E3779B97F4A7C15)
_C2 = np.uint64(0xC2B2AE3D27D4EB4F)


def _documents(seed, n):
    """TestDataGen.documents: ~4% shared-prefix near-dups (id = 1 mod 25),
    ~0.16% exact copies (id = 2 mod 625), ~31-token vocabulary."""
    ids = np.arange(n, dtype=np.int64)
    base = np.where((ids % 625 == 2) & (ids >= 2), ids - 2,
                    np.where((ids % 25 == 1) & (ids >= 1), ids - 1, ids))
    mutate = (base != ids) & (ids % 625 != 2)
    mix = np.uint64((seed * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF)
    with np.errstate(over="ignore"):
        h0 = (base.view(np.uint64) ^ mix) * _GOLD
        ntok = (8 + (h0 ^ (h0 >> np.uint64(31))) % np.uint64(108)).astype(np.int64)
        width = int(ntok.max())
        pos = np.arange(width, dtype=np.int64)[None, :]
        own = mutate[:, None] & (pos >= (ntok[:, None] - 3))
        src = np.where(own, ids[:, None], base[:, None]).view(np.uint64)
        h = (src ^ mix) * _GOLD + pos.astype(np.uint64) * _C2
        tok = ((h ^ (h >> np.uint64(29))) % np.uint64(len(VOCAB))).astype(np.int64)
        hl = (ids.view(np.uint64) ^ mix) * np.uint64(0xFF51AFD7ED558CCD)
        lang = ((hl ^ (hl >> np.uint64(33))) % np.uint64(len(LANGS))).astype(np.int64)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[tok[i, :ntok[i]]]) for i in range(n)]
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[lang].tolist()),
        "source": pa.array([f"src{(i * 31) % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(seed, n):
    """Unit-norm 64-d vectors in 10 weak clusters (centres ~0.07 from the
    origin, per-dimension sigma 0.125), as in TestDataGen.embeddings."""
    dim = 64
    rng = np.random.default_rng([seed, 9000])
    centers = rng.standard_normal((10, dim))
    centers = centers / np.linalg.norm(centers, axis=1, keepdims=True) * 0.07
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.standard_normal((n, dim)) * 0.125
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(v.reshape(-1)))
    return {"vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label.astype(np.int32))}


def _orders(hs, n_orders, n_customer):
    ids = np.arange(n_orders, dtype=np.int64)
    return {
        "o_orderkey": ids,
        "o_custkey": hs.ulong(ids, 41, n_customer),
        "o_orderstatus": hs.pick(ids, 42, ["O", "P", "F"]),
        "o_totalprice": _round2(hs.u(ids, 43) * 498991.27 + 1001.91),
        # uniform over 1995-01-01 .. 2001-08-01 (2404 days)
        "o_orderdate_s": 788918400 + hs.ulong(ids, 44, 2404) * 86400,
        "o_orderpriority": hs.pick(ids, 45, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                             "4-NOT SPECIFIED", "5-LOW"]),
    }


def _lineitem(hs, o, n_part, n_supplier):
    nlines = hs.ulong(o["o_orderkey"], 51, 7) + 1
    okey = np.repeat(o["o_orderkey"], nlines)
    odate = np.repeat(o["o_orderdate_s"], nlines)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    ln = (np.arange(len(okey)) - starts + 1).astype(np.int64)
    lid = okey * 8 + ln
    qty = hs.ulong(lid, 54, 50) + 1
    return {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(hs.ulong(lid, 52, n_part)),
        "l_suppkey": pa.array(hs.ulong(lid, 53, n_supplier)),
        "l_linenumber": pa.array(ln.astype(np.int32)),
        "l_quantity": pa.array(qty.astype(np.float64)),
        "l_extendedprice": pa.array(_round2(
            qty * (900.0 + hs.ulong(lid, 55, 12000) * 0.1))),
        "l_discount": pa.array(hs.ulong(lid, 56, 11) * 0.01),
        "l_tax": pa.array(hs.ulong(lid, 57, 9) * 0.01),
        "l_returnflag": pa.array(hs.pick(lid, 58, ["A", "N", "R"]).tolist()),
        "l_linestatus": pa.array(hs.pick(lid, 59, ["O", "F"]).tolist()),
        "l_shipdate": _ntz(odate + (hs.ulong(lid, 60, 95) + 1) * 86400),
    }


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def gen_tables(out, seed, scale, vec_scale=None, tables=TABLES):
    """Write ``tables`` at ``scale`` x sf0.1 (embeddings at ``vec_scale``)."""
    os.makedirs(out, exist_ok=True)
    hs = _Hash(seed)

    def n(key, s=scale):
        return max(1, int(round(BASE[key] * s)))
    n_customer, n_supplier, n_part = n("customer"), n("supplier"), n("part")
    want = set(tables)
    if "region" in want:
        _write(out, "region", {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"])})
    if "nation" in want:
        k = np.arange(25, dtype=np.int32)
        _write(out, "nation", {
            "n_nationkey": pa.array(k),
            "n_name": pa.array([f"NATION_{i}" for i in k]),
            "n_regionkey": pa.array(k % 5)})
    if "customer" in want:
        ids = np.arange(n_customer, dtype=np.int64)
        _write(out, "customer", {
            "c_custkey": pa.array(ids),
            "c_name": pa.array([f"Customer#{i:09d}" for i in ids]),
            "c_nationkey": pa.array(hs.ulong(ids, 11, 25).astype(np.int32)),
            "c_acctbal": pa.array(_round2(hs.u(ids, 12) * 10999.65 - 999.85)),
            "c_mktsegment": pa.array(hs.pick(ids, 13, [
                "AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY",
                "HOUSEHOLD"]).tolist())})
    if "supplier" in want:
        ids = np.arange(n_supplier, dtype=np.int64)
        _write(out, "supplier", {
            "s_suppkey": pa.array(ids),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in ids]),
            "s_nationkey": pa.array(hs.ulong(ids, 21, 25).astype(np.int32)),
            "s_acctbal": pa.array(_round2(hs.u(ids, 22) * 10999.65 - 999.85))})
    if "part" in want:
        ids = np.arange(n_part, dtype=np.int64)
        adjs = ["large", "hot", "blue", "small", "cold", "red", "green",
                "shiny", "dark", "light"]
        nouns = ["ring", "bolt", "gear", "valve", "wheel", "pin", "rod",
                 "plate", "cap", "screw"]
        a, b = hs.pick(ids, 31, adjs), hs.pick(ids, 32, nouns)
        _write(out, "part", {
            "p_partkey": pa.array(ids),
            "p_name": pa.array([f"{x} {y}" for x, y in zip(a, b)]),
            "p_brand": pa.array([f"Brand#{v + 1}" for v in hs.ulong(ids, 33, 25)]),
            "p_type": pa.array(hs.pick(ids, 34, [
                "SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD",
                "PROMO"]).tolist()),
            "p_size": pa.array((hs.ulong(ids, 35, 50) + 1).astype(np.int32)),
            "p_retailprice": pa.array(_round2(900.0 + (ids % 20000) * 0.1))})
    if "orders" in want or "lineitem" in want:
        o = _orders(hs, n("orders"), n_customer)
        if "orders" in want:
            _write(out, "orders", {
                "o_orderkey": pa.array(o["o_orderkey"]),
                "o_custkey": pa.array(o["o_custkey"]),
                "o_orderstatus": pa.array(o["o_orderstatus"].tolist()),
                "o_totalprice": pa.array(o["o_totalprice"]),
                "o_orderdate": _ntz(o["o_orderdate_s"]),
                "o_orderpriority": pa.array(o["o_orderpriority"].tolist())})
        if "lineitem" in want:
            _write(out, "lineitem", _lineitem(hs, o, n_part, n_supplier))
    if "events" in want:
        n_events = n("events")
        ids = np.arange(n_events, dtype=np.int64)
        span = 30 * 86400
        _write(out, "events", {
            "event_id": pa.array(ids),
            # ts increases with event_id (~26 s mean gap over 30 days)
            "ts": pa.array(((1704067200 + ids * span / n_events
                             + hs.ulong(ids, 61, 30)) * 1e6).astype(np.int64),
                           type=pa.timestamp("us")),
            "user_id": pa.array(hs.ulong(ids, 62, n("users"))),
            "event_type": pa.array(hs.pick(ids, 63, [
                "view", "click", "purchase", "signup", "error"]).tolist()),
            "value": pa.array(_round2(-np.log(1.0 - hs.u(ids, 64)) * 50.0)),
            "props": pa.array([f'{{"k": {v}}}' for v in hs.ulong(ids, 65, 100)])})
    if "documents" in want:
        _write(out, "documents", _documents(seed, n("documents")))
    if "embeddings" in want:
        _write(out, "embeddings",
               _embeddings(seed, n("embeddings", vec_scale or scale)))


# ------------------------------------------------------------ landing zone

# Category/genre names as they land (not English); the dictionary the
# translator is given covers all but the last of each list, which must
# come out as the reference's failure value "NA".
CATEGORIES = [("Akcja", "Action"), ("Przygoda", "Adventure"),
              ("Wieloosobowa", "Multiplayer"), ("Kooperacja", "Co-op"),
              ("Strategie", None)]
GENRES = [("Aktion", "Action"), ("Rollenspiel", "RPG"),
          ("Simulation", "Simulation"), ("Sport", "Sports"),
          ("Gelegenheitsspiel", None)]
APP_TYPES = ["game"] * 6 + ["demo", "dlc", "dlc", "music", "video"]
WORDS = ["excellent", "amazing", "good", "fun", "boring", "crash", "bug",
         "terrible", "story", "graphics", "controls", "price", "update",
         "multiplayer", "worth", "it", "the", "and", "not", "very", "runs",
         "on", "my", "old", "laptop", "great", "soundtrack", "poor", "port"]
PROMPT = "Score the sentiment of this review: "


def _review_text(rng, kind):
    """Text for one review of the given edge-case kind."""
    if kind == "null":
        return None
    if kind == "empty":
        return ""
    words = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 24)))
    if kind == "multiline":
        quote = rng.choice(WORDS)
        return (f"{words}\nsecond line says \"{quote}\", then a comma"
                f"\n\"{rng.choice(WORDS)}\" ends it")
    return words


def _bool(v):
    return "true" if v else "false"


def gen_landing(out, seed, n_apps, n_backfill, n_daily, days, batch):
    """Write day_<d>/ landing zones (d = 0..days) and expect.json.

    day_<d>/reviews.csv is a directory holding the backfill file and the
    increments of days 1..d, so each day's zone is what the raw layer
    holds after that day's files have landed.
    """
    rng = random.Random(seed * 7919 + 17)
    files = os.path.join(out, "files")
    os.makedirs(files, exist_ok=True)

    def field(v):
        # None lands as an empty field (read back as null), "" as a quoted
        # empty string; quotes inside a field are doubled (escape='"')
        if v is None:
            return ""
        v = str(v)
        if v == "" or any(c in v for c in ',"\n\r'):
            return '"' + v.replace('"', '""') + '"'
        return v

    def write_csv(path, header, rows):
        with open(path, "w", encoding="utf-8") as f:
            for r in [header] + rows:
                f.write(",".join(field(v) for v in r) + "\n")

    # applications: F2 keeps game/demo/dlc, F3 drops free-but-priced apps
    apps, games_expected = [], 0
    appids = [1000 + i for i in range(n_apps)]
    for a in appids:
        typ = rng.choice(APP_TYPES)
        free = rng.random() < 0.2
        if free:
            init = "0" if rng.random() < 0.8 else f"{rng.uniform(1, 20):.2f}"
            final = init
        elif rng.random() < 0.05:
            init, final = None, None
        else:
            p = rng.uniform(1, 60)
            init, final = f"{p:.2f}", f"{p * rng.choice([1, 1, 0.5, 0.75]):.2f}"
        keep_type = typ in ("game", "demo", "dlc")
        priced = init is not None and float(init) != 0.0
        if keep_type and (not free or not priced):
            games_expected += 1
        apps.append([a, f"App {a}, \"the\" game" if a % 17 == 0 else f"App {a}",
                     typ, f"20{rng.randint(10, 24)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}",
                     _bool(free), init, final,
                     None if rng.random() < 0.1 else "USD",
                     _bool(rng.random() < 0.9), _bool(rng.random() < 0.4),
                     _bool(rng.random() < 0.3),
                     None if rng.random() < 0.3 else rng.randint(20, 99),
                     "2024-01-01T00:00:00"])
    write_csv(os.path.join(files, "applications.csv"),
              ["appid", "name", "type", "release_date", "is_free",
               "mat_initial_price", "mat_final_price", "mat_currency",
               "mat_supports_windows", "mat_supports_mac",
               "mat_supports_linux", "metacritic_score", "updated_at"], apps)

    dictionary, dims = {}, {}
    refs = {"categories": CATEGORIES, "genres": GENRES,
            "developers": [(f"Studio {i}, Ltd.", None) for i in range(40)],
            "publishers": [(f"Publisher \"{i}\"", None) for i in range(25)]}
    for table, names in refs.items():
        write_csv(os.path.join(files, f"{table}.csv"), ["id", "name"],
                  [[i + 1, nm] for i, (nm, _) in enumerate(names)])
        for nm, en in names:
            if en is not None:
                dictionary[nm] = en
    links = {"categories": "category_id", "genres": "genre_id",
             "developers": "developer_id", "publishers": "publisher_id"}
    for table, key in links.items():
        n_ref = len(refs[table])
        rows = []
        for a in appids:
            k = rng.randint(1, 3) if table in ("categories", "genres") else 1
            # ids past the reference table exercise the left join's nulls
            for rid in rng.sample(range(1, n_ref + 2), k):
                rows.append([a, rid])
        write_csv(os.path.join(files, f"application_{table}.csv"),
                  ["appid", key], rows)
        dims[table] = len(rows)

    # reviews: ids grow with the day, so a later day never precedes an
    # earlier one in the fact job's recommendationid order
    header = ["recommendationid", "appid", "language", "review_text",
              "timestamp_updated", "received_for_free", "comment_count",
              "author_playtime_forever", "author_playtime_at_review",
              "written_during_early_access"]
    kinds = (["plain"] * 78 + ["multiline"] * 6 + ["null"] * 2 + ["empty"] * 2
             + ["spam"] * 8 + ["early"] * 4)
    next_id, per_day, passing = 1, [], []
    multiline_samples = {}
    for d in range(days + 1):
        n = n_backfill if d == 0 else n_daily
        rows = []
        counts = {"rows": 0, "spam": 0, "early_access": 0, "sponsored": 0,
                  "null_text": 0, "multiline": 0,
                  "passing": 0}
        for _ in range(n):
            rid, next_id = next_id, next_id + rng.randint(1, 3)
            kind = rng.choice(kinds)
            text_kind = kind if kind in ("null", "empty", "multiline") else "plain"
            text = _review_text(rng, text_kind)
            forever = round(rng.uniform(2, 500), 1)
            at_review = round(rng.uniform(0.5, forever), 1)
            if kind == "spam":
                if rng.random() < 0.5:
                    at_review = 0.0
                else:
                    forever, at_review = 1.0, 0.5
            early = kind == "early"
            sponsored = rng.random() < 0.1
            counts["rows"] += 1
            counts["spam"] += kind == "spam"
            counts["early_access"] += early
            counts["sponsored"] += sponsored
            # the reference's CSV options read a quoted empty field as
            # null too, so both kinds land as null text
            counts["null_text"] += text is None or text == ""
            counts["multiline"] += text is not None and "\n" in text
            if kind not in ("spam", "early"):
                counts["passing"] += 1
                passing.append(rid)
            if kind == "multiline" and len(multiline_samples) < 5:
                multiline_samples[str(rid)] = text
            rows.append([rid, rng.choice(appids), rng.choice(["english", "german", "polish"]),
                         text, f"2024-0{1 + d % 9}-{10 + rng.randint(0, 18)}T{rng.randint(10, 23)}:00:00",
                         _bool(sponsored), rng.randint(0, 20), forever, at_review,
                         _bool(early)])
        name = f"reviews_{d:03d}.csv"
        write_csv(os.path.join(files, name), header, rows)
        counts["bytes"] = os.path.getsize(os.path.join(files, name))
        counts["passing_total"] = len(passing)
        per_day.append(counts)

    ref_files = ["applications.csv"] + [f"{t}.csv" for t in refs] + \
        [f"application_{t}.csv" for t in links]
    dim_bytes = sum(os.path.getsize(os.path.join(files, f)) for f in ref_files)
    for d in range(days + 1):
        zone = os.path.join(out, f"day_{d}")
        os.makedirs(os.path.join(zone, "reviews.csv"), exist_ok=True)
        for f in ref_files:
            os.link(os.path.join(files, f), os.path.join(zone, f))
        for k in range(d + 1):
            f = f"reviews_{k:03d}.csv"
            os.link(os.path.join(files, f), os.path.join(zone, "reviews.csv", f))

    expect = {"days": days, "batch": batch, "games": games_expected,
              "dims": dims, "dictionary": dictionary, "per_day": per_day,
              "passing": passing,
              "dim_bytes": dim_bytes, "multiline_samples": multiline_samples,
              "prompt": PROMPT}
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)
