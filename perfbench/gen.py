"""Seeded input generators for the ETL workloads.

Each generator builds a fixed record set from ``CONTENT_SEED`` and writes it
as vendor-shaped NDJSON.gz files. The workload seed only permutes the line
order and decides which file each line lands in, so every seed yields the
same records (and the same expected wire output) but a different physical
input: different partition contents, batch membership and gzip windows.
That is what lets one stored content fingerprint check every seed.

The pipeline sees only the files. The generator also returns what it knows
by construction about the expected output: how many events, profiles and
merges the transform must emit, and how many lines are malformed on purpose
(the source quarantines those).
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import random
from dataclasses import dataclass

CONTENT_SEED = 20240601
N_FILES = 8
# share of input lines written truncated, so the source's quarantine path
# does real work; these lines produce no output records
CORRUPT_EVERY = 500

_EVENT_TYPES = (
    "app open", "page view", "search", "add to cart", "checkout", "purchase",
    "share", "login", "logout", "song play", "video start", "video complete",
    "signup", "settings change", "notification open", "rate", "comment",
    "follow", "unfollow", "error",
)
_CITIES = (
    ("San Francisco", "California", "US"), ("New York", "New York", "US"),
    ("London", "England", "GB"), ("Berlin", "Berlin", "DE"),
    ("São Paulo", "São Paulo", "BR"), ("東京", "Tokyo", "JP"),
    ("Zürich", "Zurich", "CH"), ("Mumbai", "Maharashtra", "IN"),
)
_OS = (("ios", "apple", "iphone"), ("android", "samsung", "galaxy"),
       ("android", "google", "pixel"), ("macos", "apple", "macbook"))
_PLANS = ("free", "pro", "team", "enterprise")


@dataclass(frozen=True)
class Expected:
    """What the pipeline must deliver for one generated input."""

    events: int
    profiles: int
    merges: int
    lines: int
    corrupt: int

    @property
    def records(self) -> int:
        return self.events + self.profiles + self.merges


def _fmt_time(ms: int) -> str:
    t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M:%S.") + f"{ms % 1000:03d}"


def _amp_event(rng: random.Random, i: int, n_users: int) -> dict:
    u = int(rng.paretovariate(1.2)) % n_users
    user_id = None if rng.random() < 0.30 else f"user_{u}"
    device_id = None if rng.random() < 0.10 else f"device_{u}_{rng.randrange(3)}"
    city = rng.choice(_CITIES) if rng.random() >= 0.20 else (None, None, None)
    os_name, brand, model = rng.choice(_OS)
    n_props = rng.randrange(6)
    event_properties = {
        f"prop_{k}": rng.choice(
            (str(rng.randrange(10_000)), "naïve \"quoted\" value", "emoji 🎵",
             "line\nbreak", "x" * rng.randrange(1, 40))
        )
        for k in range(n_props)
    }
    user_properties = (
        {}
        if rng.random() < 0.60
        else {"plan": rng.choice(_PLANS), "tier": str(rng.randrange(5)),
              "last_seq": str(i)}
    )
    rec = {
        "event_type": rng.choice(_EVENT_TYPES),
        "user_id": user_id,
        "device_id": device_id,
        "amplitude_id": 10_000_000 + u,
        # unique per event: no two events share (type, id, time, device),
        # so every derived $insert_id is distinct
        "event_time": _fmt_time(1_622_505_600_000 + i * 37),
        "$insert_id": f"amp-{i:08d}" if rng.random() < 0.5 else None,
        "ip_address": None if rng.random() < 0.20 else f"10.{u % 256}.{i % 256}.7",
        "city": city[0],
        "region": city[1],
        "country": city[2],
        "language": "en",
        "app_version": None if rng.random() < 0.40 else f"3.{rng.randrange(9)}.0",
        "os_name": None if rng.random() < 0.20 else os_name,
        "os_version": None if rng.random() < 0.40 else f"{rng.randrange(9, 17)}.1",
        "device_brand": None if rng.random() < 0.40 else brand,
        "device_manufacturer": None if rng.random() < 0.40 else brand,
        "device_model": None if rng.random() < 0.40 else model,
        "event_properties": event_properties,
        "user_properties": user_properties,
        "groups": {} if rng.random() < 0.9 else {"org": f"org_{u % 50}"},
    }
    if rng.random() < 0.1:
        rec["data"] = {"path": "/", "first_event": "false"}
    return rec


def amplitude_records(n_events: int) -> tuple[list[str], Expected]:
    """Amplitude /export lines (FIXTURES.md F1 null shares) and the expected
    output counts under the transform's rules: one event per valid line, one
    profile per line with non-empty user_properties, one merge per distinct
    (user_id, device_id) pair with both present."""
    rng = random.Random(CONTENT_SEED)
    n_users = max(10, n_events // 15)
    lines, pairs = [], set()
    events = profiles = corrupt = 0
    for i in range(n_events):
        rec = _amp_event(rng, i, n_users)
        line = json.dumps(rec, ensure_ascii=False)
        if i % CORRUPT_EVERY == CORRUPT_EVERY - 1:
            lines.append(line[: len(line) // 2])
            corrupt += 1
            continue
        lines.append(line)
        events += 1
        profiles += bool(rec["user_properties"])
        if rec["user_id"] and rec["device_id"]:
            pairs.add((rec["user_id"], rec["device_id"]))
    return lines, Expected(events, profiles, len(pairs), len(lines), corrupt)


def _ga_hit(rng: random.Random, h: int, offset_ms: int) -> dict:
    page_n = rng.randrange(200)
    hit = {
        "hitNumber": str(h + 1),
        "time": str(offset_ms),
        "hour": str(rng.randrange(24)),
        "minute": str(rng.randrange(60)),
        "isInteraction": rng.random() < 0.8,
        "isEntrance": h == 0,
        "isExit": None,
        "referer": f"https://ref{rng.randrange(30)}.example.com/" if h == 0 else None,
        "type": rng.choice(("PAGE", "EVENT")),
        "page": {
            "pagePath": f"/p/{page_n}",
            "hostname": "shop.example.com",
            "pageTitle": f"Page {page_n} – Shop",
            "pagePathLevel1": "/p/",
        },
        "eventInfo": None
        if rng.random() < 0.4
        else {
            "eventCategory": rng.choice(("ecommerce", "video", "nav")),
            "eventAction": rng.choice(("na", "", "add to cart", "play", "click")),
            "eventLabel": rng.choice((None, "x", "hero banner")),
        },
        "customDimensions": [
            {"index": "1", "value": rng.choice(("na", "red", "", "blue"))},
            {"index": "4", "value": f"seg_{rng.randrange(5)}"},
        ],
    }
    if rng.random() < 0.15:
        hit["product"] = [{"productSKU": f"sku_{rng.randrange(500)}",
                           "productPrice": str(rng.randrange(100, 99_000))}]
    if rng.random() < 0.05:
        hit["transaction"] = {"transactionId": f"t{rng.randrange(10**6)}",
                              "transactionRevenue": str(rng.randrange(10**6))}
    return hit


def _ga_session(rng: random.Random, i: int, n_visitors: int) -> dict:
    v = int(rng.paretovariate(1.1)) % n_visitors
    n_hits = min(8, 1 + int(rng.expovariate(1 / 1.6)))
    offsets, t = [], 0
    for h in range(n_hits):
        offsets.append(t)
        t = max(t + rng.randrange(1_000, 40_000), 2_000)
    hits = [_ga_hit(rng, h, off) for h, off in enumerate(offsets)]
    hits[-1]["isExit"] = True
    city = rng.choice(_CITIES)
    lat_long = rng.random() < 0.3
    return {
        "visitNumber": str(1 + i % 20),
        "visitId": f"visit_{i}",
        # sessions 600 s apart and shorter than that, so no two events of
        # one visitor share a timestamp
        "visitStartTime": str(1_600_000_000 + i * 600),
        "date": "20200913",
        "fullVisitorId": f"fv_{v}",
        "userId": None if rng.random() < 0.7 else f"ga_user_{v}",
        "visitorId": None,
        "client_id": None if rng.random() < 0.8 else f"client_{v}",
        "channelGrouping": rng.choice(("Organic Search", "Direct", "Referral", "Paid Search")),
        "socialEngagementType": "Not Socially Engaged",
        "totals": {"visits": "1", "hits": str(n_hits), "pageviews": str(n_hits),
                   "timeOnSite": str(t // 1000)},
        "trafficSource": {
            "campaign": "(not set)",
            "source": rng.choice(("google", "(direct)", "newsletter")),
            "medium": rng.choice(("organic", "(none)", "email")),
            "keyword": None if rng.random() < 0.5 else "shoes",
            "isTrueDirect": rng.random() < 0.2,
            "adwordsClickInfo": {"criteriaParameters": "not available"},
        },
        "device": {
            "browser": rng.choice(("Chrome", "Safari", "Firefox")),
            "browserSize": "1920x1080",
            "browserVersion": str(rng.randrange(80, 120)),
            "deviceCategory": rng.choice(("desktop", "mobile", "tablet")),
            "operatingSystem": rng.choice(("Macintosh", "Windows", "iOS", "Android")),
            "operatingSystemVersion": "10.15",
            "language": "en-us",
            "screenResolution": "1920x1080",
            "isMobile": rng.random() < 0.4,
        },
        "geoNetwork": {
            "continent": "Americas",
            "subContinent": "Northern America",
            "country": city[2],
            "region": city[1],
            "metro": "(not set)",
            "city": city[0],
            "latitude": "37.77" if lat_long else None,
            "longitude": "-122.41" if lat_long else None,
        },
        "customDimensions": [{"index": "2", "value": f"seg_{v % 7}"}],
        "hits": hits,
    }


def ga_records(n_sessions: int) -> tuple[list[str], Expected]:
    """GA360 session lines and the expected output counts: a ``session
    begins``, one event per hit and a ``session ends`` per valid session,
    and one profile per valid session."""
    rng = random.Random(CONTENT_SEED)
    n_visitors = max(10, n_sessions // 3)
    lines = []
    events = profiles = corrupt = 0
    for i in range(n_sessions):
        rec = _ga_session(rng, i, n_visitors)
        line = json.dumps(rec, ensure_ascii=False)
        if i % CORRUPT_EVERY == CORRUPT_EVERY - 1:
            lines.append(line[: len(line) // 2])
            corrupt += 1
            continue
        lines.append(line)
        events += len(rec["hits"]) + 2
        profiles += 1
    return lines, Expected(events, profiles, 0, len(lines), corrupt)


def write_shards(lines: list[str], seed: int, out_dir: str) -> list[str]:
    """Permute ``lines`` with ``seed`` and write them round-robin into
    ``N_FILES`` gzip files (mtime pinned, so the bytes repeat per seed)."""
    order = list(range(len(lines)))
    random.Random(seed).shuffle(order)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(N_FILES):
        body = "\n".join(lines[j] for j in order[f::N_FILES]) + "\n"
        path = os.path.join(out_dir, f"part-{f:02d}.json.gz")
        with open(path, "wb") as fh:
            fh.write(gzip.compress(body.encode("utf-8"), compresslevel=6, mtime=0))
        paths.append(path)
    return paths
