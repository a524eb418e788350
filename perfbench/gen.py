"""Seeded, vectorized input generator for the archive workloads.

From one seed it writes, into an output directory:

- ``archive/<table>.parquet``: the four archive tables, following the
  FIXTURES.md distributions (Zipf authors, 15-25% of videos cross-linked,
  empty playlists, NULL shares, transcript bodies of 1-50 KB with a few
  empty ones, ~30% ``[MM:SS]``-stamped transcripts);
- ``cycles/<i>/``: one scrape cycle each for ``sync``: an upsert batch, a
  desired-membership batch, an inbox of transcript files in the reference
  header format, and the records a correct parser extracts from it;
- ``script.json``: the reads issued after each ``sync`` commit.

The same seed gives byte-identical files. Columns are drawn as whole
numpy arrays; only the final string joins run per row.

    python3 -m perfbench.gen SEED OUT_DIR
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import model as M

N_PLAYLISTS = 250
N_VIDEOS = 5000
TRANSCRIPT_SHARE = 0.6
#: scrape cycles generated for ``sync``, one per pass (a traced run makes two).
N_CYCLES = 2
#: per-cycle churn, as in the reference's scrape runs.
UPSERT_SHARE = 0.01
MEMBERSHIP_SHARE = 0.02
INBOX_FILES = 100

#: transcript body sizes in KB, drawn log-uniform over FIXTURES.md's range.
TRANSCRIPT_KB = (1, 50)
#: mean bytes of one generated sentence (10 words of ~7 bytes).
SENTENCE_BYTES = 72
#: reads of one ``sync`` cycle, a fixed count per read call so every seed
#: issues the same amount of each kind of work; split evenly over the
#: commits the cycle makes.
SYNC_MIX = {
    "video": 5, "video_playlists": 2, "playlist_videos": 3, "search_titles": 4,
    "search_transcripts": 2, "playlist_summary": 1, "stats": 1, "cross_links": 2,
    "top_channels": 1, "playlist_stats": 1, "sql": 2,
}
COMMITS = ("upsert", "membership", "ingest", "counts")

#: search terms embedded at known rates, hot to rare.
TERMS = {"Spark": 0.10, "Kafka": 0.03, "Lakehouse": 0.008, "Quasar": 0.001}
LANGS = np.array(["en", "en-US", "de", "es"])
_ALPHA = np.frombuffer(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_-", np.uint8
)
_SYLL = np.array("ka lo mi ra ne tu sa vi po de ga ri bo le zu fa no she ta mu".split())
_EPOCH = np.datetime64("2026-01-01T00:00:00", "us")

SEG = pa.list_(pa.struct([("start", pa.float64()), ("text", pa.string())]))
TS = pa.timestamp("us", tz="UTC")
ARROW = {
    "playlists": pa.schema(
        [("playlist_id", pa.string()), ("title", pa.string()), ("url", pa.string()),
         ("item_count", pa.int64()), ("last_updated", TS)]
    ),
    "videos": pa.schema(
        [("video_id", pa.string()), ("title", pa.string()), ("description", pa.string()),
         ("channel", pa.string()), ("publish_date", pa.date32()),
         ("duration_seconds", pa.int64()), ("view_count", pa.int64()),
         ("author", pa.string()), ("channel_id", pa.string()),
         ("thumbnail_url", pa.string()), ("video_url", pa.string()),
         ("last_scraped_timestamp", TS)]
    ),
    "playlist_videos": pa.schema(
        [("playlist_id", pa.string()), ("video_id", pa.string()), ("position", pa.int64())]
    ),
    "transcripts": pa.schema(
        [("video_id", pa.string()), ("language", pa.string()), ("transcript", pa.string()),
         ("last_fetched_timestamp", TS), ("segments", SEG)]
    ),
}


def _ids(rng: np.random.Generator, n: int, length: int, prefix: str = "") -> np.ndarray:
    """``n`` distinct ids of ``length`` url-safe chars (after ``prefix``)."""
    while True:
        raw = _ALPHA[rng.integers(0, 64, (n, length))]
        ids = np.char.add(prefix, raw.view(f"S{length}").ravel().astype(str))
        if len(np.unique(ids)) == n:
            return ids


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    parts = _SYLL[rng.integers(0, len(_SYLL), (n * 2, 3))]
    words = np.unique(np.char.add(np.char.add(parts[:, 0], parts[:, 1]), parts[:, 2]))
    return rng.permutation(words)[:n]


def _zipf(rng: np.random.Generator, n_items: int, size: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def _null(rng: np.random.Generator, values: np.ndarray, share: float) -> np.ndarray:
    out = values.astype(object)
    out[rng.random(len(values)) < share] = None
    return out


def _texts(rng, vocab, n, lo, hi, term_rates) -> list[str]:
    """``n`` space-joined texts of ``lo..hi`` words with each term of
    ``term_rates`` spliced into that share of texts."""
    lens = rng.integers(lo, hi + 1, n)
    flat = vocab[rng.integers(0, len(vocab), lens.sum())].astype(object)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    for term, rate in term_rates.items():
        hit = np.flatnonzero(rng.random(n) < rate)
        pos = starts[hit] + rng.integers(0, lens[hit])
        flat[pos] = term
    return [" ".join(flat[a:a + k]) for a, k in zip(starts, lens)]


def _transcript_bodies(rng, vocab, n) -> list[str]:
    """Bodies of ``TRANSCRIPT_KB`` size, log-uniform; ~30% carry
    ``[MM:SS]`` prefixes, ~1% are empty. Each search term lands in about
    its ``TERMS`` share of bodies."""
    stamped = rng.random(n) < 0.3
    empty = rng.random(n) < 0.01
    lo, hi = np.log(TRANSCRIPT_KB[0] * 1024), np.log(TRANSCRIPT_KB[1] * 1024)
    # A "[MM:SS] " prefix and its newline add 8 bytes to a sentence.
    n_sent = np.exp(rng.uniform(lo, hi, n)) / (SENTENCE_BYTES + 8 * stamped)
    n_sent = np.ceil(n_sent).astype(np.int64)
    per_sentence = len(n_sent) / n_sent.sum()
    sents = _texts(rng, vocab, int(n_sent.sum()), 6, 14, {t: r * per_sentence for t, r in TERMS.items()})
    bodies, k = [], 0
    for i in range(n):
        chunk = sents[k:k + n_sent[i]]
        k += n_sent[i]
        if empty[i]:
            bodies.append("")
        elif stamped[i]:
            bodies.append("\n".join(f"[{j * 5 // 60:02d}:{j * 5 % 60:02d}] {s}" for j, s in enumerate(chunk)))
        else:
            bodies.append(" ".join(chunk))
    return bodies


def _timestamps(rng, n, days_back_lo, days_back_hi) -> np.ndarray:
    secs = rng.integers(days_back_lo * 86400, days_back_hi * 86400, n)
    return _EPOCH - secs.astype("timedelta64[s]").astype("timedelta64[us]")


def _videos(rng, vocab, authors, channel_ids, ids) -> pd.DataFrame:
    ids = np.asarray(ids, dtype=str)
    n = len(ids)
    a_idx = _zipf(rng, len(authors), n)
    scraped = np.where(rng.random(n) < 0.45, _timestamps(rng, n, 8, 60), _timestamps(rng, n, 0, 7))
    days = rng.integers(0, 3 * 365, n).astype("timedelta64[D]")
    pub = (np.datetime64("2025-12-31", "D") - days).astype(object)
    return pd.DataFrame(
        {
            "video_id": ids,
            "title": _texts(rng, vocab, n, 3, 8, TERMS),
            "description": _null(rng, np.array(_texts(rng, vocab, n, 5, 20, {})), 0.15),
            "channel": np.full(n, None, object),
            "publish_date": _null(rng, pub, 0.10),
            "duration_seconds": _null(rng, rng.integers(30, 14401, n), 0.05),
            "view_count": _null(rng, (rng.pareto(1.2, n) * 1000).astype(np.int64) % 10_000_000, 0.10),
            "author": _null(rng, authors[a_idx], 0.05),
            "channel_id": channel_ids[a_idx],
            "thumbnail_url": np.char.add(np.char.add("https://i.ytimg.com/vi/", ids), "/hq.jpg"),
            "video_url": np.char.add("https://www.youtube.com/watch?v=", ids),
            "last_scraped_timestamp": _null(rng, scraped, 0.10),
        }
    )


def _base(rng: np.random.Generator) -> tuple[M.Model, np.ndarray, np.ndarray, np.ndarray]:
    vocab = _vocab(rng, 3000)
    authors = np.array([f"Channel {w.title()}" for w in vocab[:30]])
    channel_ids = _ids(rng, 30, 22, "UC")

    pids = _ids(rng, N_PLAYLISTS, 32, "PL")
    ptitles = np.array(_texts(rng, vocab, N_PLAYLISTS, 1, 3, {"Spark": 0.05}), dtype=object)
    # NOCASE traps: case-duplicates, leading punctuation, blank titles.
    k = N_PLAYLISTS // 50
    ptitles[:k] = [t.upper() for t in ptitles[k:2 * k]]
    ptitles[2 * k:3 * k] = ["#" + t for t in ptitles[2 * k:3 * k]]
    ptitles[3 * k:3 * k + 3] = ""
    ptitles = rng.permutation(ptitles)

    vids = _ids(rng, N_VIDEOS, 11)
    videos = _videos(rng, vocab, authors, channel_ids, vids)

    # Membership: 5% of videos in no playlist, 75% in one, 20% in 2..12.
    u = rng.random(N_VIDEOS)
    m = np.where(u < 0.05, 0, np.where(u < 0.80, 1, 2 + rng.geometric(0.3, N_VIDEOS) % 11))
    video_rep = np.repeat(np.arange(N_VIDEOS), m)
    live = rng.permutation(N_PLAYLISTS)[: N_PLAYLISTS - N_PLAYLISTS // 30]  # ~3% stay empty
    plist = live[_zipf(rng, len(live), len(video_rep), 0.6)]
    edges = pd.DataFrame({"playlist_id": pids[plist], "video_id": vids[video_rep]})
    edges = edges.drop_duplicates(["playlist_id", "video_id"])
    edges = edges.iloc[rng.permutation(len(edges))]
    edges["position"] = (edges.groupby("playlist_id").cumcount() + 1).astype(object)
    counts = edges.groupby("playlist_id").size()

    item_count = np.array([counts.get(p, 0) for p in pids], dtype=object)
    playlists = pd.DataFrame(
        {
            "playlist_id": pids,
            "title": ptitles,
            "url": np.char.add("https://www.youtube.com/playlist?list=", pids),
            "item_count": _null(rng, item_count, 0.2),
            "last_updated": _timestamps(rng, N_PLAYLISTS, 0, 60).astype(object),
        }
    )

    t_idx = np.sort(rng.choice(N_VIDEOS, int(N_VIDEOS * TRANSCRIPT_SHARE), replace=False))
    bodies = _transcript_bodies(rng, vocab, len(t_idx))
    transcripts = pd.DataFrame(
        {
            "video_id": vids[t_idx],
            "language": LANGS[rng.choice(4, len(t_idx), p=[0.85, 0.07, 0.04, 0.04])],
            "transcript": bodies,
            "last_fetched_timestamp": _null(rng, _timestamps(rng, len(t_idx), 0, 60), 0.1),
        }
    )
    return M.Model(playlists, videos, edges.reset_index(drop=True), transcripts), vocab, authors, channel_ids


def write_table(df: pd.DataFrame, name: str, path: str) -> None:
    schema = ARROW[name]
    cols = {}
    for f in schema:
        if f.name == "segments":
            cols[f.name] = pa.nulls(len(df), f.type)
        else:
            vals = df[f.name].to_numpy(dtype=object)
            vals = [None if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)) else v for v in vals]
            cols[f.name] = pa.array(vals, f.type)
    pq.write_table(pa.table(cols, schema=schema), path)


def read_frame(path: str) -> pd.DataFrame:
    """A generated parquet file as the model holds it (NULL-able ints and
    dates as Python objects; the always-NULL ``segments`` dropped)."""
    tbl = pq.read_table(path)
    if "segments" in tbl.column_names:
        tbl = tbl.drop(["segments"])
    df = tbl.to_pandas(integer_object_nulls=True, date_as_object=True)
    for c in df.columns:
        if pa.types.is_timestamp(tbl.schema.field(c).type):
            df[c] = df[c].astype(object)
    return df


def read_model(path: str) -> M.Model:
    return M.Model(*(read_frame(os.path.join(path, f"{t}.parquet")) for t in M.TABLES))


def _inbox(rng, vocab, m: M.Model, cycle_dir: str, fresh_ids: np.ndarray) -> pd.DataFrame:
    """Write the cycle's inbox; return what a correct parser extracts."""
    inbox = os.path.join(cycle_dir, "inbox")
    os.makedirs(inbox)
    n_old = INBOX_FILES - len(fresh_ids)
    # Prefer videos that already hold a timestamped transcript, so the
    # keep-the-timestamped-body rule is exercised every cycle.
    t = m.transcripts
    stamped = t.video_id[t.transcript.str.startswith("[", na=False)].to_numpy()
    pool = m.videos.video_id[~m.videos.video_id.isin(stamped)].to_numpy()
    old = np.concatenate([
        rng.choice(stamped, n_old // 2, replace=False),
        rng.choice(pool, n_old - n_old // 2, replace=False),
    ])
    ids = rng.permutation(np.concatenate([old, fresh_ids]))
    bodies = _transcript_bodies(rng, vocab, len(ids))
    titles = _texts(rng, vocab, len(ids), 2, 6, TERMS)
    variant = rng.choice(4, len(ids), p=[0.8, 0.08, 0.08, 0.04])
    recs = []
    for i, (vid, body, title, var) in enumerate(zip(ids, bodies, titles, variant)):
        url = f"https://www.youtube.com/watch?v={vid}"
        if var == 0:  # full header
            text, ext = f"TITLE: {title}\nURL: {url}\n\n{body}", ".txt"
        elif var == 1:  # no TITLE: title falls back to "Video <id>"
            text, ext, title = f"URL: {url}\n\n{body}", ".srt", f"Video {vid}"
        elif var == 2:  # no URL: id from the ID line, url synthesized
            text, ext = f"TITLE: {title}\nID: {vid}\n\n{body}", ".txt"
        else:  # no header at all: rejected by the parser
            text, ext = body, ".vtt"
        with open(os.path.join(inbox, f"t{i:04d}{ext}"), "w", encoding="utf-8") as f:
            f.write(text)
        if var != 3 and body.strip():
            recs.append((vid, title, url, body))
    return pd.DataFrame(recs, columns=["video_id", "title", "url", "transcript"])


def _cycle(rng, vocab, authors, channel_ids, m: M.Model, cycle_dir: str, reads: list) -> None:
    os.makedirs(cycle_dir)
    nv = len(m.videos)
    n_up = int(N_VIDEOS * UPSERT_SHARE)
    n_new = n_up // 5
    taken = set(m.videos.video_id)
    new_ids = [i for i in _ids(rng, n_new * 3, 11) if i not in taken]
    fresh_upsert, fresh_inbox = np.array(new_ids[:n_new]), np.array(new_ids[n_new:n_new + 10])

    upd = m.videos.video_id.to_numpy()[rng.choice(nv, n_up - n_new, replace=False)]
    up = _videos(rng, vocab, authors, channel_ids, np.concatenate([upd, fresh_upsert]))
    write_table(up, "videos", os.path.join(cycle_dir, "upsert.parquet"))
    M.apply_upsert(m, up)

    pl = m.playlists.playlist_id.to_numpy()
    touched = rng.choice(pl, int(N_PLAYLISTS * MEMBERSHIP_SHARE), replace=False)
    all_v = m.videos.video_id.to_numpy()
    desired = []
    for pid in touched:
        cur = m.playlist_videos[m.playlist_videos.playlist_id == pid]
        keep = cur.video_id.to_numpy()[rng.random(len(cur)) < 0.7]
        add = rng.choice(all_v, int(rng.integers(1, 8)), replace=False)
        ids = pd.unique(np.concatenate([keep, add]))
        desired.append(pd.DataFrame({"playlist_id": pid, "video_id": ids,
                                     "position": np.arange(1, len(ids) + 1).astype(object)}))
    desired = pd.concat(desired, ignore_index=True)
    write_table(desired, "playlist_videos", os.path.join(cycle_dir, "members.parquet"))
    M.apply_membership(m, desired)

    parsed = _inbox(rng, vocab, m, cycle_dir, fresh_inbox)
    parsed.to_parquet(os.path.join(cycle_dir, "expected_parse.parquet"))
    M.apply_ingest(m, parsed)
    M.apply_counts(m)

    # The reads after each commit favour the keys the cycle touched.
    hot = np.concatenate([up.video_id.to_numpy()[:8], parsed.video_id.to_numpy()[:8]])
    ops = _reads(rng, vocab, SYNC_MIX, hot, touched)
    per = len(ops) // len(COMMITS)
    for i, commit in enumerate(COMMITS):
        for op in ops[i * per:(i + 1) * per]:
            reads.append({"after": commit, **op})


def _reads(rng, vocab, mix: dict, vids: np.ndarray, pids: np.ndarray) -> list[dict]:
    """A shuffled request list with ``mix[kind]`` calls of each kind;
    point lookups are Zipf-skewed over ``vids``/``pids`` and search terms
    range from the embedded hot-to-rare terms to random words."""
    vids, pids = rng.permutation(vids), rng.permutation(pids)
    terms = list(TERMS) + list(vocab[:200])
    ops = []
    for kind, n in mix.items():
        for i in range(n):
            if kind in ("video", "video_playlists"):
                args = [str(vids[_zipf(rng, len(vids), 1)[0]])]
            elif kind == "playlist_videos":
                args = [str(pids[_zipf(rng, len(pids), 1)[0]])]
            elif kind in ("search_titles", "search_transcripts"):
                # Half the searches use the embedded terms, half random
                # words; the case varies as users type it.
                term = terms[i % 4] if i % 2 == 0 else str(rng.choice(terms[4:]))
                term = [term, term.lower(), term.upper()][int(rng.integers(0, 3))]
                args = [term, 100 if kind == "search_titles" else 50]
            elif kind == "top_channels":
                args = [int(rng.integers(3, 11))]
            elif kind == "sql":
                name = list(M.SQL_TEXT)[i % len(M.SQL_TEXT)]
                arg = {"authors": None, "members": str(pids[i % len(pids)]), "lang": "de",
                       "views": int(rng.integers(1000, 100000))}[name]
                args = [name, arg]
            else:
                args = []
            ops.append({"op": kind, "args": args})
    return [ops[i] for i in rng.permutation(len(ops))]


def generate(seed: int, out: str) -> None:
    """Write every input for ``seed`` into ``out`` (replaced if present)."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "archive"))
    rng = np.random.default_rng(seed)
    m, vocab, authors, channel_ids = _base(rng)
    for t in M.TABLES:
        write_table(m.table(t), t, os.path.join(tmp, "archive", f"{t}.parquet"))
    m = read_model(os.path.join(tmp, "archive"))
    sync_reads: list[list[dict]] = []
    for c in range(N_CYCLES):
        reads: list[dict] = []
        _cycle(rng, vocab, authors, channel_ids, m, os.path.join(tmp, "cycles", str(c)), reads)
        sync_reads.append(reads)
    with open(os.path.join(tmp, "script.json"), "w") as f:
        json.dump({"seed": seed, "sync": sync_reads}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2])
