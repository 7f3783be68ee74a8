"""Seeded input generators for the benchmark.

`tables` writes the ten star-schema tables every engine query reads, with the
schemas and value ranges of the repository's sf test tables, at any scale
factor. `landing` writes one multiline landing document per day in the
`{root}/{y}/{m}/{d}/playback_hist.json` layout of `graft.etl.Zones`, and
`warehouse_model` gives the warehouse the pipeline must leave behind for
those documents. The same seed always gives the same bytes.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_WORDS = ("a the data spark table row column key value hash join merge sort "
          "scan filter group agg window stream batch query order part line "
          "customer vector fast slow big small").split()
_ADJ = "large hot blue old cold small green shiny".split()
_NOUN = "ring bolt plate gear anvil widget spring valve".split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo) / np.timedelta64(1, "D")) + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def tables(out, seed, sf):
    """Writes `{out}/{table}.parquet` for every table in TABLES."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {k: max(int(v * sf), 50) for k, v in dict(
        customer=150_000, supplier=10_000, part=200_000, orders=1_500_000,
        lineitem=6_000_000, events=1_000_000, documents=50_000,
        embeddings=20_000).items()}
    i32, i64 = pa.int32(), pa.int64()
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1)})
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100,
        "l_tax": rng.integers(0, 9, li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li)})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    _write(out, "events", {
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array((start + offs.astype("timedelta64[us]")), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(e // 66, 10), e), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        r = rng.random()
        if i > 0 and r < 0.05:    # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.0517:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], d,
                           p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    m = n["embeddings"]
    v = rng.standard_normal((m, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), i32)})


_ALNUM = np.array(list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
_API = "https://api.spotify.test/v1"


def _ids(rng, prefix, n):
    return [prefix + "".join(r) for r in rng.choice(_ALNUM, (n, 21))]


def _catalog(rng, plays_per_day):
    """Artists, albums and tracks that the days' plays draw from."""
    n_art, n_alb = max(40, plays_per_day // 4), max(30, plays_per_day // 5)
    n_trk = max(100, plays_per_day)
    artists = [{
        "external_urls": {"spotify": f"https://open.spotify.test/artist/{i}"},
        "href": f"{_API}/artists/{i}", "id": i,
        "name": f"{_WORDS[w].title()} {_NOUN[k % 8].title()} {k}",
        "uri": f"spotify:artist:{i}"}
        for i, w, k in zip(_ids(rng, "r", n_art), rng.integers(0, len(_WORDS), n_art),
                           range(n_art))]
    albums = []
    for i, k in zip(_ids(rng, "l", n_alb), range(n_alb)):
        year = int(rng.integers(1960, 2024))
        bare = rng.random() < 0.2
        albums.append({
            "album_type": ["album", "single", "compilation"][int(rng.integers(0, 3))],
            "artists": [{"id": artists[int(rng.integers(0, n_art))]["id"]}],
            "href": f"{_API}/albums/{i}", "id": i, "name": f"Album {k}",
            "release_date": str(year) if bare else
            f"{year}-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}",
            "release_date_precision": "year" if bare else "day",
            "total_tracks": int(rng.integers(1, 31)), "type": "album",
            "uri": f"spotify:album:{i}"})
    tracks = []
    for i, k in zip(_ids(rng, "t", n_trk), range(n_trk)):
        n_a = int(rng.choice([1, 2, 3], p=[0.7, 0.2, 0.1]))
        tracks.append({
            "album": albums[int(rng.integers(0, n_alb))],
            "artists": [artists[int(j)] for j in rng.choice(n_art, n_a, replace=False)],
            # ends in 7: no ms/1000 or ms/60000 value sits on a rounding tie
            "duration_ms": int(rng.integers(9_000, 42_000)) * 10 + 7,
            "href": f"{_API}/tracks/{i}", "id": i, "name": f"Song {k}",
            "popularity": int(rng.integers(0, 101)), "type": "track",
            "uri": f"spotify:track:{i}"})
    return tracks


def landing_days(seed, days, plays_per_day):
    """The items of each landed day, as (date, items) in date order.

    About 10 % of a day's plays repeat plays of the day before (same
    `played_at`, same track), about 4 % appear twice within the day, and
    tracks carry one to three artists and bare-year or full release dates.
    """
    rng = np.random.default_rng([seed, 2])
    tracks = _catalog(rng, plays_per_day)
    first = dt.date(2023, 1, 1) + dt.timedelta(days=int(rng.integers(0, 700)))
    out, prev = [], []
    for k in range(days):
        day = first + dt.timedelta(days=k)
        n_rep = int(round(0.1 * plays_per_day)) if prev else 0
        n_new = plays_per_day - n_rep
        offs = np.sort(rng.choice(86_400_000, n_new, replace=False))
        base = dt.datetime(day.year, day.month, day.day)
        new = [{"played_at": (base + dt.timedelta(milliseconds=int(o)))
                .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
                "track": tracks[int(t)]}
               for o, t in zip(offs, rng.integers(0, len(tracks), n_new))]
        reps = [prev[int(i)] for i in rng.choice(len(prev), n_rep, replace=False)] if n_rep else []
        items = new[::-1] + reps
        for i in rng.choice(len(items), max(1, len(items) // 25), replace=False):
            items.insert(int(i), items[int(i)])
        out.append((day, items))
        prev = new
    return out


def landing(root, seed, days, plays_per_day):
    """Writes each day as `{root}/{y}/{m}/{d}/playback_hist.json`, pretty-printed
    with sorted keys like the reference's ingestion; returns the days."""
    out = landing_days(seed, days, plays_per_day)
    for day, items in out:
        d = os.path.join(root, str(day.year), str(day.month), str(day.day))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "playback_hist.json"), "w") as f:
            json.dump({"items": items}, f, indent=4, sort_keys=True)
    return out
