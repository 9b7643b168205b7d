"""Output checks. Each returns a list of violations (empty = pass).

The crawl checks re-derive what the engine must have respected from committed
state and the inputs, with their own arithmetic, so they do not reuse the
code under test: per-host budgets, robots rules and once-per-round fetches.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter
from urllib.parse import urlsplit

#: politeness default when a host has no crawl delay (operators.politeness)
DEFAULT_CRAWL_DELAY_MS = 500


def host_budget(crawl_delay_ms, round_duration_ms: int, max_per_host: int) -> int:
    """Rows a host may be fetched per round: one per crawl delay, capped."""
    delay = DEFAULT_CRAWL_DELAY_MS if crawl_delay_ms is None else crawl_delay_ms
    per_round = round_duration_ms if delay <= 0 else math.floor(round_duration_ms / delay)
    return max(min(per_round, max_per_host), 1)


def budget_violations(
    fetch_counts: dict[tuple[int, str], int],
    budgets: dict[str, int],
    default_budget: int,
    circuit: dict[int, dict[str, str]],
) -> list[str]:
    """``fetch_counts``: (round, host) → fetches; ``circuit``: round → host →
    "open" (no fetch allowed) or "half_open" (one probe)."""
    out = []
    for (r, host), n in sorted(fetch_counts.items()):
        state = circuit.get(r, {}).get(host)
        cap = 0 if state == "open" else 1 if state == "half_open" else budgets.get(host, default_budget)
        if n > cap:
            out.append(f"round {r}: host {host} fetched {n} > budget {cap}")
    return out


def path_of(url: str) -> str:
    return urlsplit(url).path or "/"


def robots_violations(fetched: list[tuple[int, str, str]], disallow: dict[str, list[str]]) -> list[str]:
    """``fetched``: (round, host, url); ``disallow``: host → path prefixes."""
    out = []
    for r, host, url in fetched:
        path = path_of(url)
        hit = next((p for p in disallow.get(host) or () if path.startswith(p)), None)
        if hit is not None:
            out.append(f"round {r}: fetched {url} disallowed by {hit!r}")
    return out


def duplicate_fetches(keys: list[tuple[int, int]]) -> list[str]:
    """``keys``: (round, url_hash) per fetch attempt."""
    return [f"round {r}: url_hash {h} fetched {n}x" for (r, h), n in Counter(keys).items() if n > 1]


def fingerprint(rows) -> str:
    """Order-insensitive digest of an iterable of tuples."""
    h = hashlib.sha256()
    for row in sorted(repr(tuple(r)) for r in rows):
        h.update(row.encode())
    return h.hexdigest()[:16]


class FingerprintLog:
    """Fingerprints by key, kept in the checkout between runs so a run with a
    seed seen before is compared against the earlier one."""

    def __init__(self, path: str):
        self.path = path

    def check(self, key: str, fp: str) -> list[str]:
        seen = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                seen = json.load(f)
        if key in seen:
            return [] if seen[key] == fp else [f"{key}: fingerprint {fp} != earlier run's {seen[key]}"]
        seen[key] = fp
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + f".{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
        return []
