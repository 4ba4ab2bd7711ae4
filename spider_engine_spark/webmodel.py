"""Deterministic synthetic web + interleaved-document model.

Single source of truth for the crawl's "physics": both the distributed
Spark pipeline (via pandas UDFs) and the pure-Python replay simulator
(simulator.py) call these functions, so crawl ordering and the final
URL-seen set can be compared bit-for-bit (north_rule replay-equality).

Everything is derived from blake2b-based 64-bit hashes of strings — no
wall clock, no RNG state, no external data. The link graph is skewed on
purpose: `hot_pct`% of links point at host0 (the politeness scheduler's
hot-domain skew case, SURVEY.md §7.3 risk 5).

All functions take a WebConfig (captured in UDF closures so executors
see the same parameters); the default config is the test fixture, the
bench scales num_hosts up so politeness budgets admit core-count-bound
fetch batches.

Documents are the input_hint payload: (doc_id string, spans
array<struct<kind string, text string, media_ref string, offset int>>),
with per-row span-sequence equality (kind, text, media_ref, order) as
the parity invariant.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass


@dataclass(frozen=True)
class WebConfig:
    num_hosts: int = 50
    hot_pct: int = 30  # % of links pointing at host0
    fanout: int = 6  # outlinks per fetched page
    paths_per_host: int = 100_000
    ticks_per_step: int = 8  # politeness time budget per superstep
    disallow_mod: int = 13  # path ids % mod == 0 land under /private/
    words_per_span: int = 3  # min words per text span (3..3+6 default)
    vocab_size: int = 0  # 0 -> the tiny fixed VOCAB; N -> 'w<0..N)' words


DEFAULT = WebConfig()

VOCAB = [
    "crawl", "frontier", "spark", "shard", "index", "token", "fetch",
    "queue", "robot", "delay", "depth", "media", "image", "video", "text",
    "graph", "host", "batch", "merge", "scan",
]


def h64(s: str) -> int:
    """Deterministic 64-bit hash (blake2b truncation)."""
    return int.from_bytes(
        hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big"
    )


def host_name(hid: int) -> str:
    return f"host{hid}.example.com"


# Version tag of the politeness/priority attribute law, persisted in the
# frontier snapshot meta. Frontier rows STORE derived priority/budget
# values; if the law changes, a resumed root would mix two laws for the
# same host (inconsistent per-host budget cutoffs, replay divergence).
# CrawlJob refuses to resume a root whose stored tag differs.
ATTR_LAW = "md5h60"


def attr_h60(s: str) -> int:
    """60-bit md5 truncation for the politeness/priority attribute laws.

    Deliberately md5 (not blake2b like h64): the scheduler computes these
    attributes as whole-stage-codegen JVM expressions over the outlink
    stream — conv(substring(md5(s), 1, 15), 16, 10) — bit-identical to
    this Python form (15 hex chars = 60 bits, fits BIGINT on both sides),
    so the multi-billion-row candidate stream never enters Python at all
    (operators/frontier.host_attr_cols; parity property-tested). The
    simulator keeps using this pure-Python form."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def crawl_delay(host: str) -> int:
    """Politeness: ticks between fetches for this host (robots crawl-delay).
    1..4 ticks -> per-superstep budget ticks_per_step // delay."""
    return 1 + attr_h60("delay:" + host) % 4


def host_budget(host: str, cfg: WebConfig = DEFAULT) -> int:
    return max(1, cfg.ticks_per_step // crawl_delay(host))


def host_priority(host: str) -> int:
    """0 (high) .. 2 (low); part of the priority-queue bucket key."""
    return attr_h60("prio:" + host) % 3


ROBOTS_DISALLOW_PREFIX = "/private/"  # shared with the JVM robots test
#                                       in operators/frontier.py


def robots_allowed(path: str) -> bool:
    """Global robots rule: /private/ subtrees are disallowed."""
    return not path.startswith(ROBOTS_DISALLOW_PREFIX)


def child_links(url: str, cfg: WebConfig = DEFAULT) -> list[str]:
    """Deterministic outlinks of a fetched page, with canonicalization
    noise (case, :80, trailing slash, fragments) so dedup must normalize."""
    out = []
    for i in range(cfg.fanout):
        hi = h64(f"link:{url}#{i}")
        hd = 0 if hi % 100 < cfg.hot_pct else (hi >> 8) % cfg.num_hosts
        pid = (hi >> 16) % cfg.paths_per_host
        if pid % cfg.disallow_mod == 0:
            path = f"{ROBOTS_DISALLOW_PREFIX}{pid}"
        else:
            path = f"/p/{pid}"
        host = host_name(hd)
        noise = hi % 4
        if noise == 0:
            raw = f"http://{host.upper()}{path}"
        elif noise == 1:
            raw = f"http://{host}:80{path}"
        elif noise == 2:
            raw = f"http://{host}{path}#sec{i}"
        else:
            raw = f"http://{host}{path}"
        out.append(raw)
    return out


def canonicalize(url: str) -> str:
    """URL canonicalization: lowercase scheme+host, drop default port,
    strip fragment, collapse empty path to '/'."""
    u = url.strip()
    frag = u.find("#")
    if frag >= 0:
        u = u[:frag].strip()  # whitespace can be exposed by the cut
    if "://" in u:
        scheme, rest = u.split("://", 1)
    else:
        scheme, rest = "http", u
    slash = rest.find("/")
    if slash < 0:
        netloc, path = rest, "/"
    else:
        netloc, path = rest[:slash], rest[slash:]
    netloc = netloc.lower()
    if netloc.endswith(":80"):
        netloc = netloc[:-3]
    return f"{scheme.lower()}://{netloc}{path or '/'}"


def url_host(url: str) -> str:
    rest = url.split("://", 1)[1]
    return rest.split("/", 1)[0]


def url_path(url: str) -> str:
    rest = url.split("://", 1)[1]
    slash = rest.find("/")
    return rest[slash:] if slash >= 0 else "/"


def make_text(key: str, n_words: int, cfg: WebConfig = DEFAULT) -> str:
    if cfg.vocab_size:
        words = [
            f"w{h64(f'w:{key}:{j}') % cfg.vocab_size}" for j in range(n_words)
        ]
    else:
        words = [
            VOCAB[h64(f"w:{key}:{j}") % len(VOCAB)] for j in range(n_words)
        ]
    return " ".join(words)


def make_doc(url: str, cfg: WebConfig = DEFAULT) -> dict:
    """Fetch simulation: the interleaved text+media document at `url`.

    Spans alternate text and media; media spans carry the outlinks in
    media_ref (kind 'link' or 'image'), text spans carry deterministic
    vocab text. offset is the span's position — the per-row span-sequence
    (kind, text, media_ref, offset) is the parity invariant vs the
    reference indexer round-trip (BASELINE.json input_hint).
    """
    links = child_links(url, cfg)
    spans = []
    offset = 0
    for i, link in enumerate(links):
        n_words = cfg.words_per_span + h64(f"len:{url}:{i}") % 6
        spans.append(
            {
                "kind": "text",
                "text": make_text(f"{url}:{i}", n_words, cfg),
                "media_ref": "",
                "offset": offset,
            }
        )
        offset += 1
        spans.append(
            {
                "kind": "link" if i % 2 else "image",
                "text": "",
                "media_ref": link,
                "offset": offset,
            }
        )
        offset += 1
    return {"doc_id": canonicalize(url), "spans": spans}


def seed_urls(n_seeds: int, cfg: WebConfig = DEFAULT) -> list[str]:
    """Deterministic seed list: mostly distinct hosts + the hot host."""
    seeds = []
    for i in range(n_seeds):
        hd = 0 if i % 5 == 0 else (h64(f"seed:{i}") % cfg.num_hosts)
        seeds.append(f"http://{host_name(hd)}/p/{1000 + i}")
    return seeds
