"""Seeded input generators for the benchmark.

Every table is a pure function of its seed and is written to parquet
before anything is timed, so the program only ever sees generated files
and generation cost never lands in a measurement.

Transcripts follow the ``BASELINE.json`` input_hint schema
``(conv_id, turn_idx, role, text, tool, ts)`` with the log-line payload of
FIXTURES.md §1. Unlike ``transcripts.synthetic_transcripts`` (fixed 10 %
hot conversation, fixed 2 % malformed rows, fixed body length), the seed
picks the hot-conversation share, the malformed share and the spread of
the body length, so ten seeds exercise ten input shapes.

Catalog tables mimic the ``documents`` and ``events`` tables of TESTDATA.md
at sf0.1 (same schema, row counts and value distributions), in a
seed-determined row order and file split.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"])
# "shell" has no row in lookups.TOOL_ROWS: it exercises the left join's
# unmatched-key branch
TOOLS = np.array(["bash", "read", "write", "grep", "browser", "shell"])
LEVELS = np.array(["ERROR", "WARN", "DEBUG", "INFO"])
LEVEL_P = [0.08, 0.12, 0.25, 0.55]
WORDS = np.array(
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window vector table stream merge "
    "the join customer data row".split()
)
# Catalog table shapes follow TESTDATA.md's sf0.1 tables: documents of
# 10-100 tokens (uniform) over the 30 words above, 5 % of them planted
# near duplicates ending in "dup", languages about 40 % en and 15 % each
# other, 20 sources; events uniform over 1,500 users, 30 days and five
# types, values exponential with mean 50.
DOC_TOKENS = (10, 100)
DOC_DUP_SHARE = 0.05
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_VALUE_MEAN = 50.0
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
# 2020-11-13 11:28:05 UTC, the first line of the reference's test input
BASE_TS_S = 1605266885
EVENTS_START_US = 1704067200 * 10**6  # 2024-01-01 00:00:00 UTC
BODY_POOL = 4096
BODY_WORDS_MEAN = 7


@dataclass(frozen=True)
class TranscriptShape:
    """The seed-chosen properties that parse, route and skew depend on."""

    hot_share: float
    malformed_share: float
    body_words_min: int
    body_words_max: int


def transcript_shape(seed: int) -> TranscriptShape:
    """The body length spreads 4-10, 5-9 or 6-8 words, always about a
    mean of 7: parse work per turn scales with it, and a seed that moved
    the mean would move turns/s by ~10 % whatever the program did."""
    rng = np.random.default_rng([seed, 0])
    lo = int(rng.integers(4, 7))
    return TranscriptShape(
        hot_share=round(float(rng.uniform(0.05, 0.15)), 4),
        malformed_share=round(float(rng.uniform(0.01, 0.03)), 4),
        body_words_min=lo,
        body_words_max=2 * BODY_WORDS_MEAN - lo,
    )


def _dense_rank_within(groups: np.ndarray) -> np.ndarray:
    """0-based position of each row among the rows of its group, in row
    order (turn_idx is dense and unique per conversation)."""
    order = np.argsort(groups, kind="stable")
    sorted_groups = groups[order]
    starts = np.flatnonzero(np.r_[True, sorted_groups[1:] != sorted_groups[:-1]])
    counts = np.diff(np.r_[starts, len(groups)])
    rank = np.empty(len(groups), dtype=np.int32)
    rank[order] = np.arange(len(groups)) - np.repeat(starts, counts)
    return rank


def transcripts_table(seed: int, n_turns: int, first_turn: int = 0) -> pa.Table:
    """``n_turns`` transcript rows; ``first_turn`` offsets timestamps so
    tables generated for different purposes do not share hours."""
    shape = transcript_shape(seed)
    rng = np.random.default_rng([seed, 1, first_turn])
    n_convs = max(2, n_turns // 40)
    hot = rng.random(n_turns) < shape.hot_share
    conv = np.where(hot, 0, rng.integers(1, n_convs, n_turns))
    turn_idx = _dense_rank_within(conv)
    role = ROLES[rng.integers(0, len(ROLES), n_turns)]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), n_turns)], "")
    level = LEVELS[rng.choice(len(LEVELS), n_turns, p=LEVEL_P)]
    malformed = rng.random(n_turns) < shape.malformed_share
    n_words = rng.integers(shape.body_words_min, shape.body_words_max + 1, BODY_POOL)
    pool = [" ".join(rng.choice(WORDS, k)) for k in n_words]
    body = rng.integers(0, BODY_POOL, n_turns)
    ts_s = BASE_TS_S + first_turn + np.arange(n_turns, dtype=np.int64)
    ts_str = np.datetime_as_string(ts_s.astype("datetime64[s]"), unit="s")
    text = [
        f"{d[:10]} {d[11:]} [{tl}] {pool[b]} turn={ti}"
        if bad
        else f"{d[:10]} {d[11:]} {lv} [{tl}] {pool[b]} turn={ti}"
        for d, lv, tl, b, ti, bad in zip(
            ts_str.tolist(), level.tolist(), tool.tolist(), body.tolist(),
            turn_idx.tolist(), malformed.tolist(),
        )
    ]
    return pa.table(
        {
            "conv_id": [f"conv-{c:08d}" for c in conv.tolist()],
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": role.tolist(),
            "text": text,
            "tool": tool.tolist(),
            "ts": pa.array(ts_s * 10**6, pa.timestamp("us", tz="UTC")),
        }
    )


def write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Split ``table`` into ``n_files`` contiguous parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)


def write_transcripts(
    seed: int, n_turns: int, out_dir: str, n_files: int, first_turn: int = 0
) -> dict:
    """Generate and write transcripts; returns the shape, for the record."""
    write_files(transcripts_table(seed, n_turns, first_turn), out_dir, n_files)
    return asdict(transcript_shape(seed))


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    n_tok = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n_docs)
    texts = [" ".join(rng.choice(WORDS, k)) for k in n_tok]
    # planted near duplicates: another doc's text plus one marker token,
    # so the MinHash/edit tiers have work; two plants of the same source
    # are exact duplicates of each other
    for i in np.flatnonzero(rng.random(n_docs) < DOC_DUP_SHARE).tolist():
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)].tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _events(rng: np.random.Generator, n_events: int, n_users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)) + EVENTS_START_US
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)].tolist(),
            "value": np.round(rng.exponential(EVENT_VALUE_MEAN, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()],
        }
    )


def write_catalog_tables(
    seed: int, out_dir: str, n_docs: int, n_events: int, n_users: int
) -> dict:
    """``documents.parquet`` and ``events.parquet`` directories under
    ``out_dir`` (the layout the catalog's ``(spark, sf_dir)`` builders
    read), rows shuffled and split into a seed-chosen number of files."""
    rng = np.random.default_rng([seed, 2])
    files = {}
    for name, table in (
        ("documents", _documents(rng, n_docs)),
        ("events", _events(rng, n_events, n_users)),
    ):
        n_files = int(rng.integers(2, 5))
        table = table.take(rng.permutation(table.num_rows))
        write_files(table, os.path.join(out_dir, f"{name}.parquet"), n_files)
        files[name] = n_files
    return {"n_docs": n_docs, "n_events": n_events, "n_users": n_users, "files": files}
