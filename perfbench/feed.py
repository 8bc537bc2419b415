"""Seeded RSVP feed for the stream workloads.

The feed follows FIXTURES.md §1–§2: Kafka-style envelopes
``{"value": <rsvp json>, "timestamp": "YYYY-MM-DD HH:MM:SS.mmm"}``
written one file per micro-batch through
``streaming.replay.FileEnvelopeProducer``. About 40% of rows are US
rows, the share FIXTURES.md §2 gives. The feed also carries the other
kinds of row §2 asks for: US rows with an invalid or missing state
code, rows without a venue, rows with no topics, malformed JSON lines
and event-time stragglers more than a minute late. §2 gives no share
for these; the shares below are assumptions, as are the city and topic
vocabularies.

Everything here is a pure function of the seed, so the benchmark can
check the engine's outputs against counts it knows in advance.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field
from pathlib import Path

# Envelope event time starts here and advances SPAN_S seconds per file.
BASE = dt.datetime(2021, 6, 9, 0, 0, 0)
SPAN_S = 60.0
# Spark drops a late row when its 1-minute window ends at or before the
# PREVIOUS batch's watermark (newest event time so far minus 1 minute).
# A straggler lags its file's clock by 360-480 s, which puts its window
# end at least two minutes behind that watermark. Files 0 and 1 carry
# none: their batches still filter with the initial watermark.
STRAGGLER_LAG_S = (360.0, 480.0)
STRAGGLER_FIRST_FILE = 2

US_SHARE = 0.40  # FIXTURES.md §2
# assumed shares
BAD_STATE_SHARE = 0.08  # of US rows: unknown code or no code at all
NO_VENUE_SHARE = 0.25
NO_TOPICS_SHARE = 0.15
MALFORMED_SHARE = 0.01
STRAGGLER_SHARE = 0.01

_COUNTRIES = ("gb", "de", "fr", "in", "jp", "ca", "au", "br", "es", "nl")
_CITIES = tuple(f"City{i:03d}" for i in range(120))
_TOPICS = ("tech", "hiking", "music", "books", "food", "yoga", "python", "art")


@dataclass
class FeedStats:
    """What the generator wrote, for the benchmark's output checks."""

    files: int = 0
    bytes: int = 0
    file_rows: list[int] = field(default_factory=list)
    # per file: newest event time, in seconds after BASE, to the
    # millisecond the envelope carries
    file_newest_s: list[float] = field(default_factory=list)
    # start, in seconds after BASE, of the 1-minute window of every row
    # the watermark keeps; malformed rows keep their envelope time too
    windows: set[int] = field(default_factory=set)


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S.") + f"{t.microsecond // 1000:03d}"


def _rsvp(rng: random.Random, rid: int, states: list[str]) -> dict:
    """One RSVP record."""
    us = rng.random() < US_SHARE
    group = {
        "group_topics": []
        if rng.random() < NO_TOPICS_SHARE
        else [
            {"urlkey": t, "topic_name": t.title()}
            for t in rng.sample(_TOPICS, rng.randint(1, 4))
        ],
        "group_city": rng.choice(_CITIES),
        "group_country": "us" if us else rng.choice(_COUNTRIES),
        "group_id": rng.randrange(1, 2**31 - 1),
        "group_name": f"group {rng.randrange(10_000)}",
        "group_lon": round(rng.uniform(-125, -67), 6),
        "group_urlname": f"g{rng.randrange(10_000)}",
        "group_lat": round(rng.uniform(25, 49), 6),
    }
    if us:
        r = rng.random()
        if r < BAD_STATE_SHARE / 2:
            group["group_state"] = "ZZ"
        elif r >= BAD_STATE_SHARE:
            group["group_state"] = rng.choice(states)
        # else: no state at all (a null join key)
    rec = {
        "visibility": "public",
        "response": rng.choice(("yes", "no")),
        "guests": rng.randint(0, 3),
        "member": {
            "member_id": rng.randrange(1, 2**31 - 1),
            "photo": "https://example.test/p.jpeg",
            "member_name": f"member {rng.randrange(100_000)}",
        },
        "rsvp_id": rid,
        "mtime": 1622913129340 + rid,
        "event": {
            "event_name": f"event {rng.randrange(10_000)}",
            "event_id": str(rng.randrange(10**9)),
            "time": 1624379400000 + rng.randrange(10**9),
            "event_url": "https://example.test/e",
        },
        "group": group,
    }
    if rng.random() >= NO_VENUE_SHARE:
        rec["venue"] = {
            "venue_name": f"venue {rng.randrange(10_000)}",
            "lon": round(rng.uniform(-125, -67), 6),
            "lat": round(rng.uniform(25, 49), 6),
            "venue_id": rng.randrange(1, 2**31 - 1),
        }
    return rec


def write_feed(
    send, seed: int, files: int, rows_per_file: int, stats: FeedStats
) -> None:
    """Write ``files`` files of ``rows_per_file`` envelopes through
    ``send`` (``FileEnvelopeProducer.send_batch`` or a wrapper of it),
    continuing the event clock from ``stats``. File modification times
    increase one second per file, so the file source replays them in
    write order."""
    from big_data_2021_spark_streaming_spark.schemas import STATE_NAME_BY_ABBREV

    states = sorted(STATE_NAME_BY_ABBREV)
    for _ in range(files):
        k = stats.files
        rng = random.Random(seed * 1_000_003 + k)
        start = BASE + dt.timedelta(seconds=k * SPAN_S)
        rows = []
        newest = BASE
        for j in range(rows_per_file):
            t = start + dt.timedelta(seconds=SPAN_S * j / rows_per_file)
            if rng.random() < MALFORMED_SHARE:
                rows.append(("{not json " + str(j), _ts(t)))
                newest = max(newest, t)
                stats.windows.add(int((t - BASE).total_seconds()) // 60 * 60)
                continue
            rec = _rsvp(rng, k * rows_per_file + j + 1, states)
            if k >= STRAGGLER_FIRST_FILE and rng.random() < STRAGGLER_SHARE:
                t -= dt.timedelta(seconds=rng.uniform(*STRAGGLER_LAG_S))
            else:
                stats.windows.add(int((t - BASE).total_seconds()) // 60 * 60)
            rows.append((json.dumps(rec), _ts(t)))
            newest = max(newest, t)
        path = Path(send(rows))
        mtime = 1_600_000_000 + k
        os.utime(path, (mtime, mtime))
        stats.files += 1
        stats.file_rows.append(len(rows))
        stats.file_newest_s.append((newest - BASE) // dt.timedelta(milliseconds=1) / 1e3)
        stats.bytes += path.stat().st_size


def base_epoch_s() -> float:
    """Epoch seconds of ``BASE`` read as UTC (the session time zone)."""
    return BASE.replace(tzinfo=dt.timezone.utc).timestamp()
