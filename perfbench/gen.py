"""Seeded input generators for the benchmark workloads.

The benchmark owns these generators, so an edit to the package's own
fixtures cannot silently change a workload.  Every generator is a pure
function of its arguments: ``numpy.random.default_rng(seed)`` is the only
source of randomness and timestamps are offsets from a fixed epoch.

Two page-table shapes:

* ``planted_pages`` — Common-Crawl-style pages ``(url, warc_ts, html, text,
  lang)`` with planted entity clusters of 1-6 near-duplicate titles, an
  optional hot blocking key, and optional re-crawls (same url, later
  ``warc_ts``, a fresh title variant).  Returns the truth ``(url, entity_id)``
  beside it.
* ``dense_pages`` — the same page shape, with titles drawn from a ~24-word
  vocabulary so blocks are large and pages with the same first title word
  form one big component.

``text`` is always exactly what the package's pinned HTML extraction yields
for ``html`` (title, newline, single-spaced body), so a pipeline that
re-extracts and one that reads ``text`` see the same titles.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = pd.Timestamp("2020-01-01", tz="UTC")
_SPAN_S = 3 * 365 * 24 * 3600

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_VOWELS = "aeiou"
_CONSONANTS = "bcdfghjklmnprstv"
_ACCENTS = {"o": "ö", "e": "é", "u": "ü", "a": "á"}
_LANGS = ["en"] * 9 + ["de", "fr", "es"]

BODY_VOCAB = [
    "grand", "piano", "model", "series", "concert", "upright", "string",
    "hammer", "soundboard", "pedal", "octave", "tuning", "maple", "spruce",
    "ebony", "ivory", "action", "felt", "bridge", "pin", "frame", "cast",
    "iron", "tone", "bright", "warm", "mellow", "rich", "resonant", "vintage",
    "restored", "workshop", "craft", "keyboard", "bass", "treble", "scale",
]

# Dense title vocabulary: every word has its own first letter, and no word's
# first three letters are another word's last three, so two titles share two
# blocking keys exactly when their first words are equal.
DENSE_VOCAB = [
    "aggregate", "batch", "column", "data", "engine", "filter", "group", "hash",
    "index", "join", "kernel", "lineage", "merge", "node", "order", "part",
    "query", "rowset", "scan", "table", "union", "vector", "window", "yield",
]

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def html_page(title: str, body: str) -> bytes:
    return (
        f"<html><head><title>{title}</title></head>"
        f"<body><p>{body}</p></body></html>"
    ).encode("utf-8")


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Write ``df`` as one parquet file with microsecond timestamps (the
    precision Spark reads)."""
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), path, coerce_timestamps="us"
    )


def content_hash(df: pd.DataFrame) -> str:
    """sha256 over the row hashes and the column names and dtypes."""
    h = hashlib.sha256()
    h.update(repr([(c, str(t)) for c, t in df.dtypes.items()]).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()


@dataclass
class Corpus:
    pages: pd.DataFrame  # url, warc_ts, html, text, lang
    truth: pd.DataFrame  # url, entity_id (one row per distinct url)


class _PageWriter:
    def __init__(self, rng: np.random.Generator) -> None:
        self.rng = rng
        self.rows: list[tuple] = []
        self.truth: list[tuple[str, int]] = []
        self.seq = 0

    def new_url(self, entity_id: int) -> str:
        url = f"https://site{entity_id % 97}.example.com/p/{self.seq}"
        self.seq += 1
        return url

    def emit(self, url: str, title: str, body: str, ts_s: int) -> None:
        ts = EPOCH + pd.Timedelta(seconds=int(ts_s))
        lang = _LANGS[int(self.rng.integers(0, len(_LANGS)))]
        self.rows.append((url, ts, html_page(title, body), f"{title}\n{body}", lang))

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(self.rows, columns=PAGE_COLUMNS)


def _entity_name(rng: np.random.Generator, prefix: str) -> str:
    tail = "".join(
        (_CONSONANTS if i % 2 == 0 else _VOWELS)[
            int(rng.integers(0, len(_CONSONANTS) if i % 2 == 0 else len(_VOWELS)))
        ]
        for i in range(int(rng.integers(4, 7)))
    )
    return (prefix + tail).capitalize()


def _variant(rng: np.random.Generator, base: str) -> str:
    """A near-duplicate title.  Every kind keeps the first three letters, so
    the variant shares at least three keys with its base and survives the
    weight > 1.5 prune; F1 loses precision where two entities' tails share
    a second key."""
    kind = int(rng.choice(5, p=[0.3, 0.2, 0.2, 0.15, 0.15]))
    if kind == 1:  # vowel doubling at an interior position
        for i in range(3, len(base) - 1):
            if base[i] in _VOWELS:
                return base[:i] + base[i] + base[i:]
    elif kind == 2:  # suffix echoing the tail
        return base + base[-3:]
    elif kind == 3:  # truncation of the last letter
        return base[:-1]
    elif kind == 4:  # accent on an interior vowel
        for i in range(3, len(base) - 1):
            if base[i] in _ACCENTS:
                return base[:i] + _ACCENTS[base[i]] + base[i + 1 :]
    return base


def _body(rng: np.random.Generator, base: list[str]) -> str:
    words = list(base)
    for _ in range(int(rng.integers(0, 5))):
        words[int(rng.integers(0, len(words)))] = BODY_VOCAB[
            int(rng.integers(0, len(BODY_VOCAB)))
        ]
    return " ".join(words)


def planted_pages(
    n_entities: int,
    seed: int,
    hot_rows: int = 0,
    max_cluster: int = 6,
    recrawl_frac: float = 0.0,
) -> Corpus:
    """Pages with planted entity clusters.

    Each entity gets a distinct two-letter title prefix while they last
    (25 first letters x 26 second letters = 650; ``z`` is kept for the hot
    key), so entities only merge through tail collisions.  ``hot_rows``
    adds one entity whose titles all start ``Zyz``: the ``z``, ``zy`` and
    ``zyz`` blocks each hold every hot row.  ``recrawl_frac`` of the pages
    are crawled a second time, later, under a fresh variant title.
    """
    rng = np.random.default_rng(seed)
    w = _PageWriter(rng)
    prefixes = [a + b for a in _LETTERS[:25] for b in _LETTERS]
    order = rng.permutation(len(prefixes))
    # cluster sizes and re-crawled pages are drawn without replacement from
    # fixed pools, so the page count does not depend on the seed
    sizes = rng.permutation(np.arange(n_entities) % max_cluster + 1)
    n_pages = int(sizes.sum())
    recrawled = set(rng.choice(n_pages, size=round(recrawl_frac * n_pages), replace=False))
    for e in range(n_entities):
        base = _entity_name(rng, prefixes[order[e % len(prefixes)]]).lower()
        base_body = [BODY_VOCAB[i] for i in rng.integers(0, len(BODY_VOCAB), 40)]
        for _ in range(int(sizes[e])):
            url = w.new_url(e)
            w.truth.append((url, e))
            ts = int(rng.integers(0, _SPAN_S))
            w.emit(url, _variant(rng, base).capitalize(), _body(rng, base_body), ts)
            if len(w.truth) - 1 in recrawled:
                later = ts + int(rng.integers(1, _SPAN_S // 4))
                w.emit(url, _variant(rng, base).capitalize(), _body(rng, base_body), later)
    if hot_rows:
        hot_body = [BODY_VOCAB[i] for i in rng.integers(0, len(BODY_VOCAB), 30)]
        for _ in range(hot_rows):
            url = w.new_url(n_entities)
            w.truth.append((url, n_entities))
            name = "Zyz" + _entity_name(rng, "").lower()
            w.emit(url, name, _body(rng, hot_body), int(rng.integers(0, _SPAN_S)))
    truth = pd.DataFrame(w.truth, columns=["url", "entity_id"])
    return Corpus(pages=w.frame(), truth=truth)


def dense_pages(n_pages: int, seed: int) -> Corpus:
    """Pages whose 3-word titles come from ``DENSE_VOCAB``.

    Pages sharing a first title word share three prefix keys, so each first
    word is one entity and one component; pages sharing only a last word
    share one key and are pruned.  First words are dealt evenly, so every first-word
    block holds ``n_pages / len(DENSE_VOCAB)`` pages whatever the seed.
    """
    rng = np.random.default_rng(seed)
    w = _PageWriter(rng)
    v = len(DENSE_VOCAB)
    firsts = rng.permutation(np.arange(n_pages) % v)
    for first in firsts:
        words = [first, *rng.integers(0, v, 2)]
        body = " ".join(
            BODY_VOCAB[j] for j in rng.integers(0, len(BODY_VOCAB), int(rng.integers(20, 40)))
        )
        url = w.new_url(int(words[0]))
        w.truth.append((url, int(words[0])))
        title = " ".join(DENSE_VOCAB[j] for j in words).capitalize()
        w.emit(url, title, body, int(rng.integers(0, _SPAN_S)))
    return Corpus(pages=w.frame(), truth=pd.DataFrame(w.truth, columns=["url", "entity_id"]))
