"""Output checks. Each returns an empty string when the response is right
and a short reason when it is not; a wrong response counts as a failed op.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter

import numpy as np
import pandas as pd

from . import model as M

#: generated timestamps all lie before this instant; a later one was
#: stamped by the program while the benchmark ran.
_GENERATED_BEFORE = dt.datetime(2026, 1, 2)


def canon(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return "\x00NULL"
    if isinstance(v, float) and v.is_integer():  # a NULL-able integer column in pandas
        return str(int(v))
    if isinstance(v, str):
        return v
    if isinstance(v, (pd.Timestamp, np.datetime64, dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return M.NOW if ts.to_pydatetime() > _GENERATED_BEFORE else ts.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    return str(v)


def _bag(rows) -> Counter:
    return Counter(tuple(canon(c) for c in r) for r in rows)


def _same_bag(got, want, what: str) -> str:
    g, w = _bag(got), _bag(want)
    if g == w:
        return ""
    extra, missing = list((g - w).items())[:2], list((w - g).items())[:2]
    return f"{what}: {sum((g - w).values())} unexpected {extra}, {sum((w - g).values())} missing {missing}"


def _sorted_by(keys: list, what: str) -> str:
    for a, b in zip(keys, keys[1:]):
        if a > b:
            return f"{what}: order broken at {a!r} > {b!r}"
    return ""


def _nulls_last_desc(d):
    return (d is None, -(d.toordinal()) if d is not None else 0)


def check_read(m: M.Model, op: str, args: list, rows: list) -> str:
    if op == "playlist_summary":
        got = [(r.playlist_id, r.title, r.video_count) for r in rows]
        return _same_bag(got, M.playlist_summary(m), op) or _sorted_by(
            [(-r.video_count, r.title.lower()) for r in rows], op)
    if op == "playlist_videos":
        got = [(r.video_id, r.position, r.title, r.has_transcript, r.duration_display) for r in rows]
        return _same_bag(got, M.playlist_videos(m, args[0]), op) or _sorted_by(
            [_nulls_last_desc(r.publish_date) for r in rows], op)
    if op == "video":
        got = [(r.video_id, r.title, r.transcript) for r in rows]
        return _same_bag(got, M.video(m, args[0]), op)
    if op == "video_playlists":
        got = [(r.playlist_id, r.title, r.position) for r in rows]
        return _same_bag(got, M.video_playlists(m, args[0]), op) or _sorted_by(
            [r.title.lower() for r in rows], op)
    if op == "stats":
        got = [(r.total_videos, r.total_playlists, r.total_transcripts, r.cross_linked_videos) for r in rows]
        return _same_bag(got, [M.stats(m)], op)
    if op == "cross_links":
        got = [(r.video_id, r.playlist_count, r.title) for r in rows]
        return _same_bag(got, M.cross_links(m), op) or _sorted_by(
            [(-r.playlist_count, r.title.lower()) for r in rows], op)
    if op == "top_channels":
        got = [(r.author, r.video_count) for r in rows]
        return "" if got == M.top_channels(m, args[0]) else f"{op}: {got[:3]}"
    if op == "playlist_stats":
        got = [(r.playlist_id, r.song_count, r.date_created) for r in rows]
        return _same_bag(got, M.playlist_stats(m), op) or _sorted_by(
            [r.title.lower() for r in rows], op)
    if op in ("search_titles", "search_transcripts"):
        q, limit = args
        want = (M.search_titles if op == "search_titles" else M.search_transcripts)(m, q, limit)
        got = [r.video_id for r in rows]
        field = "title" if op == "search_titles" else "snippet"
        if len(got) > limit or any(q.lower() not in (getattr(r, field) or "").lower() for r in rows):
            return f"{op}: a row lacks {q!r} or exceeds the limit"
        return "" if got == want else f"{op}({q!r}): {len(got)} rows, want {len(want)}"
    if op == "sql":
        name, arg = args
        got = [tuple(r) for r in rows]
        want = M.sql(m, name, arg)
        if name == "authors":
            return _same_bag(got, want, op)
        return "" if [tuple(canon(c) for c in r) for r in got] == [
            tuple(canon(c) for c in r) for r in want] else f"sql {name}: {got[:2]} != {want[:2]}"
    return f"unknown op {op}"


def check_tables(m: M.Model, tables: dict[str, pd.DataFrame]) -> str:
    """Final archive tables against the model, order-insensitive."""
    for name, df in tables.items():
        want = m.table(name)
        got = list(df[list(want.columns)].itertuples(index=False, name=None))
        err = _same_bag(got, list(want.itertuples(index=False, name=None)), name)
        if err:
            return err
    return ""


def check_playlists_export(m: M.Model, path: str) -> str:
    got = {}
    for fn in sorted(os.listdir(path)):
        if fn.endswith(".json"):
            with open(os.path.join(path, fn)) as f:
                for line in f:
                    r = json.loads(line)
                    got[r["playlist_id"]] = (r.get("title"), r.get("url"), r.get("video_ids"))
    want = M.exported_playlists(m)
    if got == want:
        return ""
    bad = [k for k in want if got.get(k) != want[k]][:2]
    return f"playlists export: {len(got)} playlists, want {len(want)}; differ at {bad}"


def check_transcripts_export(m: M.Model, path: str, returned: int) -> str:
    names = os.listdir(path)
    got = {n[-15:-4] for n in names}
    want = M.exported_transcript_ids(m)
    if returned == len(names) == len(want) and got == want:
        return ""
    return f"transcript export: {len(names)} files (returned {returned}), want {len(want)}"
