"""Output checks, run after the timed region.

Pipeline workloads: every warehouse table of every pass must hold the rows the
model in `warehouse_model` predicts for the landed days, compared as a row
count plus an order-independent hash of the rows (`upload_timestamp`, the
wall-clock stamp, is left out).

Query workloads: each query's warm-up result must equal its
`SparkEntry.oracleSql` run in DuckDB over the same tables, and each timed run
of it must return the oracle's row count. A query without an oracle is held to
the row count of its warm-up result.
"""
import datetime as dt
import decimal
import glob
import hashlib
import os

import duckdb
import pandas as pd

from gen import TABLES

WAREHOUSE_TABLES = ["playback_hist", "albums", "artists"]


def _round2(x):
    """Spark's `round(x, 2)` on a double: HALF_UP on the decimal form."""
    return float(decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.01"),
                                                   decimal.ROUND_HALF_UP))


def _complete_year(s):
    return s + "-12-31" if s is not None and len(s) == 4 else s


def _played_at(s):
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")


def warehouse_model(days):
    """Rows each warehouse table holds after the pipeline ran over `days`
    ((date, items) pairs, in order), as {table: [row dict]}, and per day
    {table: (rows offered to publish, rows appended)}.

    Per day: the clean zone keeps distinct plays, with each play's artists
    bagged over every item of its (played_at, track) key in document order;
    albums and artists are the day's distinct rows. Publishing appends a play
    only if its played_at is not yet in the warehouse; albums and artists
    have no key and are appended every day.
    """
    wh = {t: [] for t in WAREHOUSE_TABLES}
    per_day = []
    seen = set()
    for _, items in days:
        bags = {}
        for it in items:
            bags.setdefault((it["played_at"], it["track"]["id"]), []).extend(
                it["track"]["artists"])
        plays, albums, artists = {}, {}, {}
        for it in items:
            t, al = it["track"], it["track"]["album"]
            bag = bags[(it["played_at"], t["id"])]
            row = dict(
                played_at=_played_at(it["played_at"]), duration_ms=t["duration_ms"],
                duration_s=_round2(t["duration_ms"] / 1000),
                duration_min=_round2(t["duration_ms"] / 60000),
                track_href=t["href"], track_id=t["id"], track_name=t["name"],
                track_uri=t["uri"], artist_names=", ".join(a["name"] for a in bag),
                artist_ids=", ".join(a["id"] for a in bag), popularity=t["popularity"],
                album_id=al["id"], album_name=al["name"],
                album_release_date=_complete_year(al["release_date"]),
                album_uri=al["uri"])
            plays[tuple(row.values())] = row
            arow = dict(
                album_type=al["album_type"], album_href=al["href"], album_id=al["id"],
                album_name=al["name"],
                album_release_date=_complete_year(al["release_date"]),
                album_release_date_precision=al["release_date_precision"],
                total_tracks=al["total_tracks"], type=al["type"], album_uri=al["uri"])
            albums[tuple(arow.values())] = arow
            for a in t["artists"]:
                r = dict(artist_spotify_url=a["external_urls"]["spotify"],
                         artist_href=a["href"], artist_id=a["id"],
                         artist_name=a["name"], artist_uri=a["uri"])
                artists[tuple(r.values())] = r
        new = [r for r in plays.values() if r["played_at"] not in seen]
        seen.update(r["played_at"] for r in new)
        wh["playback_hist"] += new
        wh["albums"] += albums.values()
        wh["artists"] += artists.values()
        per_day.append({"playback_hist": (len(plays), len(new)),
                        "albums": (len(albums), len(albums)),
                        "artists": (len(artists), len(artists))})
    return wh, per_day


def _canon(v):
    if v is None or (isinstance(v, float) and v != v):
        return "\\N"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        return f"{float(v):.6f}"
    return str(v)


def row_digest(rows):
    """(count, order-independent hash) of row dicts, by column name."""
    h = 0
    for r in rows:
        key = "\x1f".join(f"{k}={_canon(r[k])}" for k in sorted(r))
        h = (h + int.from_bytes(hashlib.sha1(key.encode()).digest()[:8], "little")) % 2**64
    return len(rows), h


def check_warehouse(con, root, model):
    """Mismatch messages for one zone root against the model."""
    bad = []
    for t in WAREHOUSE_TABLES:
        files = glob.glob(os.path.join(root, "warehouse", t, "*.parquet"))
        if not files:
            bad.append(f"{root}: warehouse table {t} is missing")
            continue
        cur = con.execute(f"SELECT * EXCLUDE (upload_timestamp) FROM read_parquet({files!r})")
        names = [d[0] for d in cur.description]
        got = row_digest([dict(zip(names, r)) for r in cur.fetchall()])
        want = row_digest(model[t])
        if got != want:
            bad.append(f"{root}: {t} has {got[0]} rows (hash {got[1]:x}), "
                       f"model {want[0]} (hash {want[1]:x})")
    return bad


def canon_frame(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            col = col.round(9)
        df[c] = col.astype(str)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def oracle_rows(data_dir, results_dir, oracles, queries):
    """For each query: (message or None, expected row count)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for q in queries:
        try:
            files = glob.glob(f"{results_dir}/{q}/*.parquet")
            if not files:
                out[q] = (f"{q}: no warm-up result", None)
                continue
            got = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
            if q not in oracles:
                out[q] = (None, len(got))
                continue
            exp = con.execute(oracles[q]).df()
            g, e = canon_frame(got), canon_frame(exp)
            if list(g.columns) != list(e.columns):
                out[q] = (f"{q}: columns {list(g.columns)} vs oracle {list(e.columns)}", len(exp))
            elif not g.equals(e):
                out[q] = (f"{q}: values differ from the oracle ({len(g)} rows vs {len(e)})",
                          len(exp))
            else:
                out[q] = (None, len(exp))
        except Exception as ex:  # a failing check is a failed op, not a crash
            out[q] = (f"{q}: check failed: {ex}", None)
    return out
