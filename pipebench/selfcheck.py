#!/usr/bin/env python3
"""Self-check of the benchmark's own logic. Run from the repository root:

    python3 pipebench/selfcheck.py

Checks the percentile choice, span self time, the listener's attribution of
Spark work to layers (in a small Spark JVM), the generators' determinism and
calendar layout, and the warehouse model on a hand-written two-day input.
Exits non-zero if any check fails.
"""
import datetime as dt
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

FAILED = []


def expect(what, got, want):
    ok = got == want
    print(f"{'ok  ' if ok else 'FAIL'} {what}: {got!r}" + ("" if ok else f", want {want!r}"))
    if not ok:
        FAILED.append(what)


def check_percentiles():
    expect("p95 of 1..20 is the 19th value", stats.percentile(range(1, 21), 95), 19)
    expect("p95 of 10 values is the largest", stats.percentile(list(range(10, 0, -1)), 95), 10)
    expect("p50 of 1..4 is a measured value", stats.percentile([4, 1, 3, 2], 50), 2)
    expect("p50 of one value", stats.percentile([7.5], 50), 7.5)


def check_self_times():
    s = lambda i, name, a, b, parent: dict(id=i, name=name, start_ns=a * 10**9,
                                           end_ns=b * 10**9, parent=parent)
    own = stats.self_times([
        s(0, "pass", 0, 100, -1),
        s(1, "etl.curate", 10, 40, 0), s(2, "etl.curate", 30, 45, 0),  # overlap 30-40
        s(3, "etl.publish", 50, 90, 0), s(4, "inner", 60, 70, 3)])
    expect("root self time excludes the union of its children", own["pass"], 100 - 35 - 40)
    expect("a name's self time sums its spans", own["etl.curate"], 30 + 15)
    expect("a parent loses its child's interval", own["etl.publish"], 30)
    expect("a leaf keeps its whole interval", own["inner"], 10)


def check_generators(tmp):
    a, b = os.path.join(tmp, "a"), os.path.join(tmp, "b")
    gen.tables(a, 5, 0.0001)
    gen.tables(b, 5, 0.0001)
    same = all(open(f"{a}/{t}.parquet", "rb").read() == open(f"{b}/{t}.parquet", "rb").read()
               for t in gen.TABLES)
    expect("same seed, same table bytes", same, True)
    gen.tables(b, 6, 0.0001)
    expect("another seed, other lineitem bytes",
           open(f"{a}/lineitem.parquet", "rb").read() == open(f"{b}/lineitem.parquet", "rb").read(),
           False)
    days = gen.landing(os.path.join(tmp, "landing"), 3, 3, 20)
    first = days[0][0]
    expect("days are consecutive calendar dates",
           [d for d, _ in days], [first + dt.timedelta(days=k) for k in range(3)])
    expect("layout is {y}/{m}/{d} without padding",
           os.path.isfile(os.path.join(tmp, "landing", str(first.year), str(first.month),
                                       str(first.day), "playback_hist.json")), True)
    expect("same seed, same days", gen.landing_days(3, 3, 20) == days, True)
    played = [{i["played_at"] for i in items} for _, items in days]
    expect("day 2 repeats plays of day 1", len(played[1] & played[0]) > 0, True)
    expect("day 2 offers fewer new plays than it lists",
           check.warehouse_model(days)[1][1]["playback_hist"][1]
           < check.warehouse_model(days)[1][1]["playback_hist"][0], True)


def _artist(i, name):
    return {"external_urls": {"spotify": f"u/{i}"}, "href": f"h/{i}", "id": i,
            "name": name, "uri": f"s:{i}"}


def check_model():
    """The repository's one-day fixture, then a day that replays one play."""
    a1, a2, a3 = _artist("ar1", "Solo Artist"), _artist("ar2", "Guest Artist"), \
        _artist("ar3", "Other Artist")
    alb = lambda i, rd, p: {"album_type": "album", "artists": [{"id": "ar1"}], "href": f"h/{i}",
                            "id": i, "name": f"Album {i}", "release_date": rd,
                            "release_date_precision": p, "total_tracks": 10, "type": "album",
                            "uri": f"s:{i}"}
    tr1 = {"album": alb("al1", "1974", "year"), "artists": [a1, a2], "duration_ms": 215125,
           "href": "h/tr1", "id": "tr1", "name": "Song One", "popularity": 80,
           "type": "track", "uri": "s:tr1"}
    tr2 = dict(tr1, album=alb("al2", "2020-03-15", "day"), artists=[a3], id="tr2",
               duration_ms=180000)
    t1, t2, t3 = "2024-01-05T17:23:45.123Z", "2024-01-05T18:00:00.000Z", "2024-01-05T19:10:05.500Z"
    day1 = [{"played_at": t1, "track": tr1}, {"played_at": t1, "track": tr1},
            {"played_at": t2, "track": tr2}, {"played_at": t3, "track": tr1}]
    day2 = [{"played_at": t3, "track": tr1}, {"played_at": "2024-01-06T08:00:00.000Z",
                                              "track": tr2}]
    wh, per_day = check.warehouse_model([(dt.date(2024, 1, 5), day1), (dt.date(2024, 1, 6), day2)])
    expect("day 1 offers 3 distinct plays, 2 albums, 3 artists",
           {t: o for t, (o, _) in per_day[0].items()},
           {"playback_hist": 3, "albums": 2, "artists": 3})
    expect("day 2 appends only the play not seen before", per_day[1]["playback_hist"], (2, 1))
    expect("albums and artists re-append every day",
           (len(wh["albums"]), len(wh["artists"])), (2 + 2, 3 + 3))
    dup = [r for r in wh["playback_hist"] if r["played_at"] == dt.datetime(2024, 1, 5, 17, 23, 45, 123000)]
    expect("an exact duplicate play bags its artists twice", dup[0]["artist_names"],
           "Solo Artist, Guest Artist, Solo Artist, Guest Artist")
    expect("bare year completed to Dec 31", dup[0]["album_release_date"], "1974-12-31")
    expect("round(215.125, 2) is HALF_UP", dup[0]["duration_s"], 215.13)
    expect("row digest ignores row order", check.row_digest(wh["albums"]),
           check.row_digest(wh["albums"][::-1]))


def check_attribution(tmp):
    classes = build.ensure(os.getcwd())
    cmd = ["java", *run.JVM_OPENS, "-XX:-UsePerfData", "-Xmx1g", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{classes}:{os.path.join(build.spark_jars(), '*')}",
           "pipebench.SelfCheck", tmp]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    print("\n".join(line for line in p.stdout.splitlines() if line[:4] in ("ok  ", "FAIL")))
    expect("listener attribution (JVM self-check exit code)", p.returncode, 0)


def main():
    os.makedirs(build.build_dir(os.getcwd()), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=build.build_dir(os.getcwd()))
    try:
        check_percentiles()
        check_self_times()
        check_generators(tmp)
        check_model()
        check_attribution(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(FAILED)} failed" if FAILED else "all checks passed")
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
