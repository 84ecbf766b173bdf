"""Seeded input generators. Generation is never timed.

- Pages corpora come from :func:`webextract.corpus.write_corpus_parquet`,
  cached under the benchmark's work directory by (seed, shape,
  ``CORPUS_VERSION``).
- :func:`plant_duplicates` is the benchmark's own generator for the
  curation probe: it copies extracted ok rows under new urls (exact
  copies), with one word of one paragraph changed (near copies), and builds
  one hot near-copy cluster.
"""

from __future__ import annotations

import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

from webextract.corpus import CORPUS_VERSION, write_corpus_parquet

# Parquet row-group size of every generated input: small groups keep the
# scans splittable into one share per core.
ROW_GROUP_ROWS = 250


def pages_corpus(cache: str, *, n: int, seed: int, skew: bool,
                 content_scale: int) -> str:
    """Directory holding web_pages.parquet + truth.parquet for this shape."""
    d = os.path.join(cache, f"pages_v{CORPUS_VERSION}_n{n}_s{seed}_k{int(skew)}"
                            f"_c{content_scale}_rg{ROW_GROUP_ROWS}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        write_corpus_parquet(d, n, seed=seed, skew=skew,
                             content_scale=content_scale,
                             row_group_rows=ROW_GROUP_ROWS)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


# Planted-duplicate shares of the base row count.
EXACT_SHARE = 0.20
NEAR_SHARE = 0.10
HOT_SHARE = 0.05
# A near copy changes one word, so it keeps Jaccard >= ~0.95 on 2-gram
# shingles only for texts of at least this many tokens.
MIN_NEAR_TOKENS = 80
# The stratum the curation probe samples at a reduced rate; planted groups
# avoid it so each group's survivor is never sampled out.
SAMPLED_LANG = "es"

_WORD = re.compile(r"[a-z]{4,}")


def _near_copy(text: str, r: random.Random, tag: str) -> str:
    """``text`` with one word of one paragraph replaced by ``tag``."""
    paras = text.split("\n\n")
    cands = [i for i, p in enumerate(paras) if _WORD.search(p)]
    i = r.choice(cands)
    words = list(_WORD.finditer(paras[i]))
    m = r.choice(words)
    paras[i] = paras[i][:m.start()] + tag + paras[i][m.end():]
    return "\n\n".join(paras)


def plant_duplicates(rows: list[dict], seed: int) -> tuple[list[dict], list[list[str]]]:
    """Add planted copies to ``rows`` (dicts with url, warc_ts, lang, text,
    status, eligible). Returns (all rows, planted groups as url lists).

    Only rows flagged ``eligible`` (unique url, passes curate's gates, long
    enough, not in the sampled stratum) seed a group, and each seeds at most
    one. Every group holds its source url plus the copies' urls.
    """
    r = random.Random(f"{seed}|plant")
    base = sorted(rows, key=lambda x: (x["url"], x["warc_ts"]))
    pool = [x for x in base if x["eligible"]]
    r.shuffle(pool)
    n = len(base)
    out = list(base)
    groups: list[list[str]] = []

    def copy(src: dict, k: int, text: str) -> dict:
        return dict(src, url=f"{src['url']}?copy={k}", text=text)

    def take() -> dict:
        if not pool:
            raise ValueError("too few eligible rows to plant duplicates")
        return pool.pop()

    # one hot near cluster: ~5% of rows are near copies of a single source
    src = take()
    hot = [copy(src, k, _near_copy(src["text"], r, f"hotplant{k:04d}"))
           for k in range(max(2, round(HOT_SHARE * n)))]
    out += hot
    groups.append([src["url"]] + [c["url"] for c in hot])

    planted = 0
    while planted < EXACT_SHARE * n:
        src = take()
        k = r.randint(1, 3)
        cps = [copy(src, j, src["text"]) for j in range(k)]
        out += cps
        groups.append([src["url"]] + [c["url"] for c in cps])
        planted += k

    planted = 0
    while planted < NEAR_SHARE * n:
        src = take()
        k = r.randint(1, 2)
        cps = [copy(src, j, _near_copy(src["text"], r, f"nearplant{j}"))
               for j in range(k)]
        out += cps
        groups.append([src["url"]] + [c["url"] for c in cps])
        planted += k
    return out, groups


CURATE_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("lang", pa.string()),
    ("text", pa.string()),
    ("status", pa.string()),
])


def write_rows(path: str, rows: list[dict]) -> None:
    cols = [f.name for f in CURATE_SCHEMA]
    tbl = pa.Table.from_pylist([{c: x[c] for c in cols} for x in rows],
                               schema=CURATE_SCHEMA)
    pq.write_table(tbl, path, row_group_size=ROW_GROUP_ROWS)


def eligible(row: dict, url_count: dict[str, int], gate_ok: bool) -> bool:
    return (gate_ok and url_count[row["url"]] == 1
            and row["lang"] != SAMPLED_LANG
            and len(row["text"].split()) >= MIN_NEAR_TOKENS)
