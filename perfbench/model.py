"""In-memory reference model of the archive tables, in pandas.

The generator builds it, the sync workload advances it one mutation at a
time, and the output checks compare every archive response against it.
Each ``apply_*`` function mirrors the documented semantics of one
``Archive`` mutation; columns that the program stamps with the commit
time hold ``NOW`` here and are compared as "stamped during the run".
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

#: marker for a timestamp the program sets to ``current_timestamp()``.
NOW = "<now>"

#: the engine's timestamp-detection alternation, spelled the same way.
_WS = r"[ \t\n\x0B\f\r]"
TS_RE = re.compile(
    r"(\[\d{1,2}:\d{2}(:\d{2})?\]"
    rf"|\d{{1,2}}:\d{{2}}(:\d{{2}})?{_WS}*-{_WS}"
    rf"|(^|\n){_WS}*\d{{1,2}}:\d{{2}}(:\d{{2}})?{_WS}"
    r"|<\d{1,2}:\d{2}(:\d{2})?>)"
)

TABLES = ("playlists", "videos", "playlist_videos", "transcripts")


def has_timestamps(text) -> bool:
    return isinstance(text, str) and TS_RE.search(text) is not None


@dataclass
class Model:
    playlists: pd.DataFrame
    videos: pd.DataFrame
    playlist_videos: pd.DataFrame
    transcripts: pd.DataFrame

    def table(self, name: str) -> pd.DataFrame:
        return getattr(self, name)


def apply_upsert(m: Model, new: pd.DataFrame) -> None:
    """``Archive.upsert_videos``: new rows replace old rows by key."""
    keep = m.videos[~m.videos.video_id.isin(new.video_id)]
    m.videos = pd.concat([keep, new[m.videos.columns]], ignore_index=True)


def apply_membership(m: Model, desired: pd.DataFrame) -> None:
    """``Archive.sync_playlist_membership``: within the touched playlists,
    kept edges keep their stored position, added edges take the desired
    one, and edges no longer desired are deleted."""
    e = m.playlist_videos
    touched = e.playlist_id.isin(desired.playlist_id.unique())
    in_scope = e[touched]
    key = ["playlist_id", "video_id"]
    kept = in_scope.merge(desired[key], on=key, how="inner")
    added = desired.merge(in_scope[key], on=key, how="left", indicator=True)
    added = added[added._merge == "left_only"].drop(columns="_merge")
    m.playlist_videos = pd.concat([e[~touched], kept, added[e.columns]], ignore_index=True)


def apply_ingest(m: Model, parsed: pd.DataFrame) -> None:
    """``Archive.ingest_transcript_inbox`` over parsed inbox records
    ``(video_id, title, url, transcript)``: existing videos get title,
    url and scrape time updated, unknown ids get a minimal video row, and
    a stored timestamped transcript survives an un-timestamped one."""
    v = m.videos.set_index("video_id")
    p = parsed.set_index("video_id")
    hit = p.index.intersection(v.index)
    v.loc[hit, "title"] = p.loc[hit, "title"]
    v.loc[hit, "video_url"] = p.loc[hit, "url"]
    v.loc[hit, "last_scraped_timestamp"] = NOW
    fresh = p.loc[p.index.difference(v.index)]
    new_rows = pd.DataFrame(
        {
            "video_id": fresh.index,
            "title": fresh["title"].to_numpy(),
            "video_url": fresh["url"].to_numpy(),
            "last_scraped_timestamp": NOW,
        }
    )
    m.videos = pd.concat([v.reset_index(), new_rows], ignore_index=True)[m.videos.columns]

    t = m.transcripts.set_index("video_id")
    rows = []
    for vid, body in zip(parsed.video_id, parsed.transcript):
        if vid in t.index:
            old = t.at[vid, "transcript"]
            if has_timestamps(old) and not has_timestamps(body):
                continue
        rows.append((vid, None, body, NOW))
    incoming = pd.DataFrame(rows, columns=["video_id", "language", "transcript", "last_fetched_timestamp"])
    t = t.drop(index=t.index.intersection(incoming.video_id)).reset_index()
    m.transcripts = pd.concat([t, incoming], ignore_index=True)[m.transcripts.columns]


def apply_counts(m: Model) -> None:
    """``Archive.update_playlist_counts``: playlists with edges get their
    distinct member count and a fresh ``last_updated``; others keep both."""
    counts = m.playlist_videos.groupby("playlist_id").video_id.nunique()
    p = m.playlists.set_index("playlist_id")
    hit = p.index.intersection(counts.index)
    p.loc[hit, "item_count"] = counts.loc[hit].astype(object)
    p.loc[hit, "last_updated"] = NOW
    m.playlists = p.reset_index()[m.playlists.columns]


# -- expected read results ------------------------------------------------


def playlist_summary(m: Model) -> list[tuple]:
    n = m.playlist_videos.groupby("playlist_id").video_id.count()
    p = m.playlists[["playlist_id", "title"]]
    return [(pid, t, int(n.get(pid, 0))) for pid, t in zip(p.playlist_id, p.title)]


def playlist_videos(m: Model, playlist_id: str) -> list[tuple]:
    e = m.playlist_videos[m.playlist_videos.playlist_id == playlist_id]
    j = e.merge(m.videos[["video_id", "title", "duration_seconds"]], on="video_id")
    t = m.transcripts
    has = set(t.video_id[t.transcript.notna() & (t.transcript != "")])
    return [
        (vid, pos, title, int(vid in has), format_duration(d))
        for vid, pos, title, d in zip(j.video_id, j.position, j.title, j.duration_seconds)
    ]


def format_duration(s) -> str:
    if s is None or (isinstance(s, float) and np.isnan(s)) or s is pd.NA:
        return "Unknown"
    s = int(s)
    h, m, sec = s // 3600, (s % 3600) // 60, s % 60
    parts = []
    if h > 0:
        parts.append(f"{h}h")
    if h > 0 or m > 0:
        parts.append(f"{m}m")
    parts.append(f"{sec}s")
    return " ".join(parts)


def video(m: Model, video_id: str) -> list[tuple]:
    v = m.videos[m.videos.video_id == video_id]
    t = m.transcripts.set_index("video_id")
    return [
        (vid, title, t.at[vid, "transcript"] if vid in t.index else None)
        for vid, title in zip(v.video_id, v.title)
    ]


def video_playlists(m: Model, video_id: str) -> list[tuple]:
    e = m.playlist_videos[m.playlist_videos.video_id == video_id]
    j = e.merge(m.playlists[["playlist_id", "title"]], on="playlist_id")
    return list(zip(j.playlist_id, j.title, j.position))


def cross_counts(m: Model) -> pd.Series:
    n = m.playlist_videos.groupby("video_id").playlist_id.nunique()
    return n[n > 1]


def stats(m: Model) -> tuple:
    return (len(m.videos), len(m.playlists), len(m.transcripts), len(cross_counts(m)))


def cross_links(m: Model) -> list[tuple]:
    n = cross_counts(m)
    v = m.videos.set_index("video_id").title
    return [(vid, int(c), v[vid]) for vid, c in n.items() if vid in v.index]


def top_channels(m: Model, k: int) -> list[tuple]:
    a = m.videos.author.dropna().value_counts()
    ranked = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(name, int(c)) for name, c in ranked[:k]]


def playlist_stats(m: Model) -> list[tuple]:
    j = m.playlist_videos.merge(m.videos[["video_id", "publish_date"]], on="video_id")
    n = j.groupby("playlist_id").video_id.count()
    first = j.dropna(subset=["publish_date"]).groupby("playlist_id").publish_date.min()
    return [(pid, int(n.get(pid, 0)), first.get(pid)) for pid in m.playlists.playlist_id]


def _ordered_ids(df: pd.DataFrame, limit: int) -> list[str]:
    """``ORDER BY publish_date DESC NULLS LAST, video_id LIMIT n``."""
    d = df.assign(_null=df.publish_date.isna())
    d = d.sort_values(["_null", "publish_date", "video_id"], ascending=[True, False, True])
    return list(d.video_id[:limit])


def search_titles(m: Model, q: str, limit: int) -> list[str]:
    v = m.videos
    hit = v[v.title.str.lower().str.contains(q.lower(), regex=False)]
    return _ordered_ids(hit, limit)


def search_transcripts(m: Model, q: str, limit: int) -> list[str]:
    t = m.transcripts
    hit = t[t.transcript.fillna("").str.lower().str.contains(q.lower(), regex=False)]
    j = hit[["video_id"]].merge(m.videos[["video_id", "publish_date"]], on="video_id")
    return _ordered_ids(j, limit)


def sql(m: Model, name: str, arg) -> list[tuple]:
    v = m.videos
    if name == "authors":
        a = v.author.dropna().value_counts()
        return sorted((k, int(c)) for k, c in a.items())
    if name == "members":
        n = int((m.playlist_videos.playlist_id == arg).sum())
        return [(arg, n)] if n else []
    if name == "lang":
        return [(int((m.transcripts.language == arg).sum()),)]
    if name == "views":
        d = v[v.view_count.notna() & (v.view_count >= arg)]
        d = d.assign(vc=d.view_count.astype("int64")).sort_values(["vc", "video_id"], ascending=[False, True])
        return [(vid, int(c)) for vid, c in zip(d.video_id[:20], d.vc[:20])]
    raise ValueError(name)


SQL_TEXT = {
    "authors": "SELECT author, COUNT(*) AS n FROM videos WHERE author IS NOT NULL GROUP BY author",
    "members": (
        "SELECT p.playlist_id, COUNT(pv.video_id) AS n FROM playlists p "
        "JOIN playlist_videos pv ON p.playlist_id = pv.playlist_id "
        "WHERE p.playlist_id = '{arg}' GROUP BY p.playlist_id"
    ),
    "lang": "SELECT COUNT(*) AS n FROM transcripts WHERE language = '{arg}'",
    "views": (
        "SELECT video_id, view_count FROM videos WHERE view_count >= {arg} "
        "ORDER BY view_count DESC, video_id LIMIT 20"
    ),
}


def exported_playlists(m: Model) -> dict[str, tuple]:
    """``export_playlists_json`` content: id → (title, url, ids by position)."""
    e = m.playlist_videos.sort_values(["playlist_id", "position", "video_id"])
    ids = e.groupby("playlist_id").video_id.agg(list)
    return {
        pid: (t, u, ids.get(pid, []))
        for pid, t, u in zip(m.playlists.playlist_id, m.playlists.title, m.playlists.url)
    }


def exported_transcript_ids(m: Model) -> set[str]:
    t = m.transcripts
    ok = set(t.video_id[t.transcript.notna() & (t.transcript != "")])
    return ok & set(m.videos.video_id)
