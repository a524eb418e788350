"""YouTube-domain query surface (SURVEY §3.3) on FIXTURES.md-shaped data."""

from __future__ import annotations

from youtube_scraper_db_spark.queries import (
    cross_linked_videos,
    per_playlist_stats,
    playlist_summary,
    playlist_videos_with_flags,
    search_titles,
    search_transcripts,
    summary_stats,
    top_channels,
    video_detail,
)


def test_playlist_summary_includes_empty(spark, playlists, playlist_videos):
    rows = playlist_summary(playlists, playlist_videos).collect()
    counts = {r.playlist_id: r.video_count for r in rows}
    assert counts == {"PL001": 3, "PL002": 1, "PL003": 0, "PL004": 1}
    assert rows[0].playlist_id == "PL001"  # ordered by count desc


def test_playlist_videos_flags_empty_transcript_excluded(
    spark, playlist_videos, videos, transcripts
):
    rows = playlist_videos_with_flags(playlist_videos, videos, transcripts, "PL001").collect()
    flags = {r.video_id: r.has_transcript for r in rows}
    # vid3's transcript body is empty → P9 residual predicate drops it
    assert flags == {"vid00000001": 1, "vid00000002": 1, "vid00000003": 0}
    assert rows[0].video_id == "vid00000002"  # publish_date desc, NULLs last
    assert rows[-1].video_id == "vid00000003"
    assert rows[0].duration_display == "2m 0s"


def test_video_detail_point_lookup(spark, videos, transcripts):
    rows = video_detail(videos, transcripts, "vid00000001").collect()
    assert len(rows) == 1
    assert rows[0].language == "en"


def test_summary_stats(spark, playlists, videos, transcripts, playlist_videos):
    r = summary_stats(playlists, videos, transcripts, playlist_videos).collect()[0]
    assert r.total_videos == 4
    assert r.total_playlists == 4
    assert r.total_transcripts == 3
    assert r.cross_linked_videos == 2  # vid1 in PL001+PL002, vid2 in PL001+PL004
    assert str(r.last_update).startswith("2024-01-09")


def test_cross_linked_videos(spark, playlist_videos, videos):
    rows = cross_linked_videos(playlist_videos, videos).collect()
    assert [(r.video_id, r.playlist_count) for r in rows] == [
        ("vid00000001", 2),
        ("vid00000002", 2),
    ]


def test_top_channels_excludes_null_author(spark, videos):
    rows = top_channels(videos, k=5).collect()
    assert [(r.author, r.video_count) for r in rows] == [("ChanA", 2), ("ChanB", 1)]


def test_per_playlist_stats_empty_playlist_nulls(spark, playlists, playlist_videos, videos):
    rows = {r.playlist_id: r for r in per_playlist_stats(playlists, playlist_videos, videos).collect()}
    assert rows["PL003"].song_count == 0
    assert rows["PL003"].date_created is None
    assert rows["PL001"].song_count == 3
    assert str(rows["PL001"].date_created) == "2024-01-01"


def test_search_titles_case_insensitive_with_attribution(
    spark, videos, playlist_videos, playlists
):
    rows = search_titles(videos, playlist_videos, playlists, "SPARK").collect()
    assert {r.video_id for r in rows} == {"vid00000001", "vid00000002"}
    by_id = {r.video_id: r.playlist_title for r in rows}
    # deterministic attribution = MIN(title): vid1 in {Alpha Mix, beta mix} → Alpha Mix
    assert by_id["vid00000001"] == "Alpha Mix"


def test_search_transcripts_snippet_highlight(spark, transcripts, videos):
    rows = search_transcripts(transcripts, videos, "SPARK").collect()
    assert len(rows) == 1
    assert rows[0].video_id == "vid00000001"
    assert "spark" in rows[0].snippet
    assert "**spark**" not in rows[0].snippet_highlighted  # exact-case only
    rows2 = search_transcripts(transcripts, videos, "spark").collect()
    assert "**spark**" in rows2[0].snippet_highlighted


def test_summary_stats_without_edges(spark, playlists, videos, transcripts, playlist_videos):
    df = summary_stats(playlists, videos, transcripts, playlist_videos.limit(0))
    assert dict(df.dtypes)["cross_linked_videos"] == "bigint"
    r = df.collect()[0]
    assert r.cross_linked_videos == 0 and r.total_videos == 4
