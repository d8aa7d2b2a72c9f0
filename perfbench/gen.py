"""Seeded input generators for the benchmark.

Two inputs, both written as parquet with pyarrow (no Spark), so that
generation never counts toward the benchmark's set-up time:

* a CDX-shaped capture log: Zipf-skewed capture counts per URL,
  multi-year spans ending at a fixed horizon, revisit (``-``) rows that
  reuse an earlier digest, reused digests across days, and the
  FIXTURES.md §2 variant A micro-fixture planted as one extra URL. The
  file set is a url-sorted dump: several files, several row groups each,
  so a one-URL filter prunes at the row-group level;
* a documents corpus with planted exact copies and near-duplicate
  families (edited copies), plus the ground truth the checks need.

Everything is a pure function of (seed, size): the same arguments give
byte-identical rows.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: fixed scoring horizon: every URL's dense spine ends here
AS_OF = _dt.date(2025, 6, 30)

#: FIXTURES.md §2 variant A, planted under its own URL
FIXTURE_URL = "https://fixture.example/variant-a"
FIXTURE_LINES = [
    "20200101010000 301 AAAA1111X",
    "20200101020000 200 BBBB2222X",
    "20200101030000 200 BBBB2222X",
    "20200102010000 404 CCCC3333X",
    "20200102020000 -   BBBB2222X",
    "20200104010000 503 DDDD4444X",
]
#: FIXTURES.md §3.2 golden (fill=0, default sigmoid parameters):
#: Day -> (Resilience, Fixity, Chaos, Chaosn)
FIXTURE_GOLDEN = {
    "2020-01-01": (0.523713, 0.496654, 0.666667, 0.666667),
    "2020-01-02": (0.559601, 0.520525, 0.800000, 0.800000),
    "2020-01-03": (0.559588, 0.520513, 0.800000, 0.800000),
    "2020-01-04": (0.549523, 0.517029, 0.833333, 0.833333),
    "2020-01-05": (0.549510, 0.517017, 0.833333, 0.833333),
}

#: raw status tokens and their draw probabilities; '-' is a revisit
#: record, '0' an out-of-range token the engine passes through
STATUS_TOKENS = np.array(["200", "301", "302", "404", "503", "-", "0"])
STATUS_P = np.array([0.66, 0.05, 0.04, 0.08, 0.05, 0.115, 0.005])
#: chance that a non-revisit capture sees new content (a new digest)
P_CONTENT_CHANGE = 0.2

CAPTURE_SCHEMA = pa.schema([
    ("url", pa.string()), ("seq", pa.int64()), ("ts", pa.string()),
    ("status", pa.string()), ("digest", pa.string()),
])

#: word k-gram width of the engine's shingles (extensions.dedup.SHINGLE_K)
SHINGLE_K = 3
#: every input is written as this many parquet files
N_FILES = 4
#: row groups per capture-log file, so a one-URL filter can skip groups
ROW_GROUPS_PER_FILE = 4


def _write_meta(path: str, meta: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    os.replace(tmp, path)


def _digests(ids: np.ndarray) -> np.ndarray:
    """Distinct content ids -> 32-char digests whose first 8 chars (the
    part the engine keeps) stay distinct per id."""
    mixed = (ids.astype(np.uint64) * np.uint64(0x9E3779B1)) & np.uint64((1 << 40) - 1)
    hexs = np.char.mod("%010X", mixed.astype(np.int64))
    return np.char.add(hexs, "QZ5TK2PLM7WX4RCD3HVBN6YJ")


def _write_parts(table: pa.Table, out_dir: str, row_groups: int = 1) -> None:
    per_file = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        part = table.slice(i * per_file, per_file)
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"),
                       row_group_size=max(1, -(-part.num_rows // row_groups)))


def capture_log(seed: int, n_urls: int, n_captures: int, out_dir: str) -> dict:
    """Write the capture log under ``out_dir`` and return its metadata.

    The metadata holds the input sizes and the analytic dense-row count
    Σ(AS_OF − first day + 1) over URLs, which the bulk pass must match.
    """
    meta_path = os.path.join(out_dir, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])

    # Zipf-skewed capture counts, at least one capture per URL
    w = 1.0 / np.arange(1, n_urls + 1) ** 1.1
    counts = 1 + rng.multinomial(n_captures - n_urls, w / w.sum())
    rng.shuffle(counts)
    # multi-year spans ending up to 90 days before the horizon; the
    # first capture sits exactly on the first day
    as_of = np.datetime64(AS_OF.isoformat(), "D")
    span = rng.integers(365, 8 * 365, n_urls)
    tail = rng.integers(0, 90, n_urls)
    first = as_of - span
    last = as_of - tail

    url_idx = np.repeat(np.arange(n_urls), counts)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    is_first = np.zeros(len(url_idx), dtype=bool)
    is_first[starts] = True
    width = (last - first).astype(np.int64)[url_idx] + 1
    day_off = np.where(is_first, 0, (rng.random(len(url_idx)) * width).astype(np.int64))
    secs = rng.integers(0, 86400, len(url_idx))
    t = (first[url_idx].astype("datetime64[s]") + day_off * 86400 + secs)
    order = np.lexsort((t, url_idx))
    url_idx, t = url_idx[order], t[order]
    # after sorting, the earliest capture of each URL is still on its first day
    is_first = np.zeros(len(url_idx), dtype=bool)
    is_first[starts] = True

    status = rng.choice(STATUS_TOKENS, size=len(url_idx), p=STATUS_P)
    status[is_first] = "200"  # a revisit needs an earlier real capture
    revisit = status == "-"
    change = (rng.random(len(url_idx)) < P_CONTENT_CHANGE) & ~revisit
    change[is_first] = True
    content_id = np.cumsum(change)  # global, so never shared across URLs
    digest = _digests(content_id)

    names = np.char.add(
        np.char.add("https://site", np.char.mod("%03d", np.arange(n_urls) % 211)),
        np.char.add(".example/page/", np.char.mod("%07d", np.arange(n_urls))),
    )
    ts = pc.strftime(pa.array(t, type=pa.timestamp("s")), format="%Y%m%d%H%M%S")

    fx = [line.split() for line in FIXTURE_LINES]
    url_col = np.concatenate([names[url_idx], [FIXTURE_URL] * len(fx)])
    ts_col = pa.concat_arrays([ts.cast(pa.string()), pa.array([r[0] for r in fx])])
    status_col = np.concatenate([status, [r[1] for r in fx]])
    digest_col = np.concatenate([digest, [r[2] for r in fx]])
    table = pa.table({
        "url": pa.array(url_col, pa.string()),
        "seq": pa.array(np.arange(len(url_col)), pa.int64()),
        "ts": ts_col,
        "status": pa.array(status_col, pa.string()),
        "digest": pa.array(digest_col, pa.string()),
    }, schema=CAPTURE_SCHEMA)
    table = table.take(pc.sort_indices(table, [("url", "ascending"), ("seq", "ascending")]))

    _write_parts(table, out_dir, ROW_GROUPS_PER_FILE)

    fixture_first = _dt.date(2020, 1, 1)
    url_dense = [int(x) for x in (as_of - first).astype(np.int64) + 1] + [(AS_OF - fixture_first).days + 1]
    captures_per_url = np.bincount(url_idx, minlength=n_urls)
    meta = {
        "seed": seed,
        "as_of": AS_OF.isoformat(),
        "captures": int(table.num_rows),
        "urls": n_urls + 1,
        "dense_rows": sum(url_dense),
        "revisit_rows": int(revisit.sum()) + 1,
        "files": N_FILES,
        "row_groups_per_file": ROW_GROUPS_PER_FILE,
        # Zipf popularity for request sampling: URL name and capture count
        "url_names": [str(x) for x in names] + [FIXTURE_URL],
        "url_captures": [int(x) for x in captures_per_url] + [len(fx)],
        # analytic dense rows per URL: AS_OF - first day + 1
        "url_dense_rows": url_dense,
    }
    _write_meta(meta_path, meta)
    return meta


def _shingle_set(words: list[str]) -> set[str]:
    return {" ".join(words[i:i + SHINGLE_K]) for i in range(len(words) - SHINGLE_K + 1)}


def jaccard(text_a: str, text_b: str) -> float:
    """Exact word-3-gram Jaccard, with the engine's tokenization
    (split on single spaces)."""
    a, b = _shingle_set(text_a.split(" ")), _shingle_set(text_b.split(" "))
    return len(a & b) / len(a | b)


def doc_corpus(seed: int, n_base: int, out_dir: str, threshold: float = 0.8) -> dict:
    """Write the documents corpus under ``out_dir`` and return metadata.

    ``n_base`` distinct base documents; on top of them about 6 % exact
    copies and about 15 % of bases with one to three edited copies (one
    to four word substitutions each). Ground truth: the count of
    distinct texts, and every within-family pair of distinct texts whose
    true Jaccard is at least ``threshold``.
    """
    meta_path = os.path.join(out_dir, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])

    n_vocab = 20000
    lens = rng.integers(3, 10, n_vocab)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, n)) for n in lens]
    cdf = np.cumsum(1.0 / np.arange(1, n_vocab + 1) ** 1.05)
    cdf /= cdf[-1]

    def words(n: int) -> list[str]:
        return [vocab[i] for i in np.searchsorted(cdf, rng.random(n))]

    texts: list[str] = []
    families: list[list[int]] = []
    for _ in range(n_base):
        base = words(int(rng.integers(60, 200)))
        fam = [len(texts)]
        texts.append(" ".join(base))
        if rng.random() < 0.15:
            for _ in range(int(rng.integers(1, 4))):
                edited = list(base)
                for pos in rng.choice(len(base), int(rng.integers(1, 5)), replace=False):
                    edited[pos] = vocab[int(rng.integers(0, n_vocab))]
                fam.append(len(texts))
                texts.append(" ".join(edited))
            families.append(fam)
    n_distinct_docs = len(texts)
    for src in rng.choice(n_distinct_docs, int(0.06 * n_distinct_docs), replace=False):
        texts.append(texts[int(src)])

    planted = []
    for fam in families:
        for i, a in enumerate(fam):
            for b in fam[i + 1:]:
                if texts[a] != texts[b] and jaccard(texts[a], texts[b]) >= threshold:
                    planted.append((a, b))

    # shuffled ids, so families are not contiguous in id order
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    table = table.take(pc.sort_indices(table, [("doc_id", "ascending")]))
    _write_parts(table, out_dir)
    meta = {
        "seed": seed,
        "docs": int(table.num_rows),
        "distinct_texts": len(set(texts)),
        "threshold": threshold,
        "planted_pairs": [[int(ids[a]), int(ids[b])] for a, b in planted],
        "families": len(families),
    }
    _write_meta(meta_path, meta)
    return meta
