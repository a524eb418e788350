"""The benchmark's own tests: the output checks accept right results and
flag corrupted ones, inputs are reproducible from the seed, and the
entry point refuses to run without the program.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import Row

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import check, gen  # noqa: E402
from perfbench import model as M  # noqa: E402


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gen") / "seed-7")
    gen.generate(7, out)
    return out


@pytest.fixture()
def m(inputs):
    return gen.read_model(os.path.join(inputs, "archive"))


def test_same_seed_same_bytes(inputs, tmp_path):
    again = str(tmp_path / "again")
    gen.generate(7, again)
    for d, _, files in os.walk(inputs):
        for f in files:
            a = os.path.join(d, f)
            with open(a, "rb") as x, open(os.path.join(again, os.path.relpath(a, inputs)), "rb") as y:
                assert x.read() == y.read(), a


def test_fixture_distributions(m):
    share = len(M.cross_counts(m)) / len(m.videos)
    assert 0.15 <= share <= 0.25
    assert (m.playlist_videos.groupby("playlist_id").size().reindex(m.playlists.playlist_id).isna()).any()
    assert m.videos.author.isna().any() and m.videos.publish_date.isna().any()
    assert (m.transcripts.transcript == "").any()
    sizes = m.transcripts.transcript.str.len()
    sizes = sizes[sizes > 0]
    # 1-50 KB, give or take a sentence.
    assert sizes.min() >= 0.8 * 1024 and sizes.max() <= 52 * 1024
    assert 8 * 1024 <= sizes.mean() <= 16 * 1024  # log-uniform over 1-50 KB: mean ~12.5 KB
    stamped = m.transcripts.transcript.map(M.has_timestamps).mean()
    assert 0.25 <= stamped <= 0.35


def test_read_checks_flag_corruption(m):
    top = [Row(author=a, video_count=c) for a, c in M.top_channels(m, 5)]
    assert check.check_read(m, "top_channels", [5], top) == ""
    bad = top[:]
    bad[0] = Row(author=top[0].author, video_count=top[0].video_count + 1)
    assert check.check_read(m, "top_channels", [5], bad)

    s = M.stats(m)
    row = Row(total_videos=s[0], total_playlists=s[1], total_transcripts=s[2], cross_linked_videos=s[3])
    assert check.check_read(m, "stats", [], [row]) == ""
    row = Row(total_videos=s[0], total_playlists=s[1], total_transcripts=s[2], cross_linked_videos=s[3] - 1)
    assert check.check_read(m, "stats", [], [row])

    titles = m.videos.set_index("video_id").title
    ids = M.search_titles(m, "spark", 100)
    rows = [Row(video_id=i, title=titles[i]) for i in ids]
    assert len(rows) == 100
    assert check.check_read(m, "search_titles", ["spark", 100], rows) == ""
    assert check.check_read(m, "search_titles", ["spark", 100], rows[:-1])
    assert check.check_read(m, "search_titles", ["spark", 100], rows[1:] + rows[:1])

    summary = sorted(M.playlist_summary(m), key=lambda r: (-r[2], r[1].lower()))
    rows = [Row(playlist_id=p, title=t, video_count=n) for p, t, n in summary]
    assert check.check_read(m, "playlist_summary", [], rows) == ""
    assert check.check_read(m, "playlist_summary", [], rows[::-1])
    rows[3] = Row(playlist_id=rows[3].playlist_id, title=rows[3].title, video_count=rows[3].video_count + 1)
    assert check.check_read(m, "playlist_summary", [], rows)


def test_table_check_flags_corruption(m):
    tables = {t: m.table(t).copy() for t in M.TABLES}
    assert check.check_tables(m, tables) == ""
    tables["playlist_videos"].iloc[5, 2] = 999
    assert check.check_tables(m, tables)


def test_sync_model_follows_mutation_semantics(m):
    """The preference rule: a stored timestamped transcript survives an
    un-timestamped replacement; anything else is replaced."""
    stamped = m.transcripts[m.transcripts.transcript.str.startswith("[", na=False)].iloc[0]
    plain = m.transcripts[~m.transcripts.transcript.map(M.has_timestamps)
                          & (m.transcripts.transcript != "")].iloc[0]
    parsed = pd.DataFrame(
        [(stamped.video_id, "t1", "u1", "no stamps here"), (plain.video_id, "t2", "u2", "new body")],
        columns=["video_id", "title", "url", "transcript"],
    )
    M.apply_ingest(m, parsed)
    t = m.transcripts.set_index("video_id").transcript
    assert t[stamped.video_id] == stamped.transcript
    assert t[plain.video_id] == "new body"
    assert m.videos.set_index("video_id").title[stamped.video_id] == "t1"


def test_export_check_flags_corruption(m, tmp_path):
    want = M.exported_playlists(m)
    path = tmp_path / "pl"
    path.mkdir()
    with open(path / "part-0.json", "w") as f:
        for pid, (title, url, ids) in want.items():
            f.write(json.dumps({"playlist_id": pid, "title": title, "url": url, "video_ids": ids}) + "\n")
    assert check.check_playlists_export(m, str(path)) == ""
    pid = next(p for p, v in want.items() if len(v[2]) > 1)
    with open(path / "part-0.json", "a") as f:
        title, url, ids = want[pid]
        f.write(json.dumps({"playlist_id": pid, "title": title, "url": url, "video_ids": ids[::-1]}) + "\n")
    assert check.check_playlists_export(m, str(path))


def test_self_time_subtracts_children():
    from perfbench.collect import Tracer

    t = Tracer()
    with t.span("op", "bench"):
        with t.span("call", "archive"):
            with t.span("plan", "queries"):
                sum(range(10000))
        sum(range(10000))
    whole = (t.spans[0]["end"] - t.spans[0]["start"]) * 1000
    self_ms = t.self_ms()
    assert [s["parent"] for s in t.spans] == [None, 0, 1]
    assert all(v >= 0 for v in self_ms.values())
    assert sum(self_ms.values()) == pytest.approx(whole)


def test_oracle_check_flags_corruption():
    from perfbench import workloads
    from youtube_scraper_db_spark.registry import REGISTRY

    spec = next(s for s in REGISTRY if s.name == "graph_ann_topk")
    oracle = workloads._Oracle()
    assert oracle.check(spec, ([], []))  # wrong columns; opens the views
    cur = oracle.con.execute(spec.oracle)
    cols, rows = [d[0] for d in cur.description], cur.fetchall()
    assert oracle.check(spec, (cols, rows)) == ""
    assert oracle.check(spec, (cols, rows[1:]))
    assert oracle.check(spec, (cols, rows[:1] + rows[:-1]))


def test_refuses_to_run_without_the_program(tmp_path):
    root = os.path.dirname(HERE)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".traces", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sync", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
