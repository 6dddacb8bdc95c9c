"""Seeded input generators.

Every generator is a pure function of its arguments (the seed included),
so one seed always yields the same pages and pair graph.  The engine only
ever sees what these functions return, written out as parquet pages
tables by `write_pages`.

- `multi_page`: a page whose script concatenates fixture snippets behind
  a statement naming the page, so every script is unique and a content
  cache keyed on script text cannot hit; `page_sizes` draws the snippet
  counts (1-32, mean about 8).
- `stream_page`: the engine corpus row `page_for(i, seed)` unchanged: one
  snippet per page, 36 distinct scripts, 10% of pages an hour late.
- `chain_pairs`: a near-duplicate pair graph made of chains, with its
  known connected components.
"""

from __future__ import annotations

import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from joern_spark.extract import extract_script_text
from joern_spark.fixtures import SNIPPETS
from joern_spark.sources.corpus import BASE_EPOCH, DOMAINS, page_for

SNIPPET_IDS = sorted(SNIPPETS)
MAX_SNIPPETS = 32
assert MAX_SNIPPETS <= len(SNIPPET_IDS)

PAGE_ARROW_SCHEMA = pa.schema([
    ("doc_seq", pa.int64()),
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def page_sizes(seed: int, n: int, block: int) -> list[int]:
    """Snippet counts of n pages: 1 + floor(Exp(mean 7.5)) capped at 32,
    mostly small pages with a tail of large ones, mean about 8.

    Each block of `block` pages holds the same sizes (the distribution's
    quantiles) in a seeded order, so every seed and every block carries
    the same amount of work and only the order and snippets differ."""
    table = [min(MAX_SNIPPETS, 1 + int(-7.5 * math.log(1 - (k + 0.5) / block)))
             for k in range(block)]
    rng = random.Random(f"sizes:{seed}")
    out: list[int] = []
    while len(out) < n:
        out += rng.sample(table, block)
    return out[:n]


def multi_script(seed: int, i: int, n_snippets: int, draw: int = 0) -> str:
    """n_snippets distinct fixture snippets in a seeded order.  Drawing
    without replacement keeps a large page's cost, which grows faster than
    its size, nearly the same for every seed.  `draw` picks another
    script for the same page."""
    rng = random.Random(f"script:{seed}:{i}:{draw}")
    body = "\n".join(SNIPPETS[s]
                     for s in rng.sample(SNIPPET_IDS, n_snippets))
    return f"var page_{seed}_{i} = {i};\n{body}"


def chain_script(length: int) -> str:
    """A literal passed down `length` assignments into a sink call: one
    def-use chain of fixed depth."""
    lines = ["var v0 = 7;"] + [f"var v{k} = v{k - 1};"
                               for k in range(1, length + 1)]
    return "\n".join(lines + [f"sink(v{length});"])


def multi_page(seed: int, i: int, n_snippets: int, extra_js: str = "",
               draw: int = 0) -> tuple:
    """(doc_seq, url, warc_ts seconds, html bytes, text) of page i; `text`
    is the extracted script text, as in the engine corpus.  `extra_js` is
    appended to the script; `draw` is passed to `multi_script`."""
    rng = random.Random(f"page:{seed}:{i}")
    url = f"https://{DOMAINS[rng.randrange(len(DOMAINS))]}/multi-{seed}-{i}"
    script = multi_script(seed, i, n_snippets, draw)
    if extra_js:
        script = f"{script}\n{extra_js}"
    html = (f"<html><head><title>m{i}</title></head><body><script>"
            f"{script}\n</script></body></html>")
    return (i, url, BASE_EPOCH + 7 * i, html.encode("utf-8"),
            extract_script_text(html))


def stream_page(seed: int, i: int) -> tuple:
    url, ts, html, text = page_for(i, seed)
    return i, url, ts, html, text


def write_pages(rows: list[tuple], path: str) -> None:
    """Write page rows as one parquet file in the engine's PAGE_SCHEMA."""
    cols = list(zip(*rows))
    table = pa.table({
        "doc_seq": pa.array(cols[0], pa.int64()),
        "url": pa.array(cols[1], pa.string()),
        "warc_ts": pa.array([t * 1_000_000 for t in cols[2]],
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array(cols[3], pa.binary()),
        "text": pa.array(cols[4], pa.string()),
        "lang": pa.array(["en"] * len(rows), pa.string()),
    }, schema=PAGE_ARROW_SCHEMA)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def chain_pairs(seed: int, n_pairs: int, max_len: int = 256):
    """At least `n_pairs` (doc_a, doc_b) pairs forming chains of 2 to
    `max_len` docs with random ids, in random order and direction.

    Returns (pairs, components) where components maps every doc to the
    smallest doc id of its chain."""
    rng = random.Random(f"pairs:{seed}")
    chains = []
    total = 0
    while total < n_pairs:
        length = rng.randint(2, max_len)
        chains.append(length)
        total += length - 1
    ids = rng.sample(range(1, 20 * (total + len(chains))), total + len(chains))
    pairs = []
    components = {}
    pos = 0
    for length in chains:
        docs = ids[pos:pos + length]
        pos += length
        low = min(docs)
        for d in docs:
            components[d] = low
        for a, b in zip(docs, docs[1:]):
            pairs.append((a, b) if rng.random() < 0.5 else (b, a))
    rng.shuffle(pairs)
    return pairs, components
