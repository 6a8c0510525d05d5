"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: numpy's PCG64 stream
drives all choices and the parquet writer options are pinned, so the same
seed always produces byte-identical files. The engine never sees these
functions, only the parquet they write.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A fixed 2,000-word vocabulary: two or three syllables from a fixed list.
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
        "do", "fi", "gu", "he", "jo", "ba", "ce", "wy", "xo", "qu"]
VOCAB = np.array(
    [a + b for a in _SYL for b in _SYL]
    + [a + b + c for a in _SYL[:10] for b in _SYL for c in _SYL[:8]],
    dtype=object,
)
KEYWORDS = ["analytics", "database", "pipeline", "search", "ranking",
            "crawler", "spark", "etl", "graphs", "ontology", "mapping",
            "dedup", "storage", "stream", "vector", "index"]
LANGS = np.array(["en", "en", "en", "en", "es", "fr", "de", "pt", "it", "ja"],
                 dtype=object)
TLDS = np.array(["com", "org", "net", "io", "dev"], dtype=object)

_WRITE = {"compression": "snappy", "row_group_size": 65536,
          "use_dictionary": True, "write_statistics": True}


def write_parquet(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` with pinned writer options: as the file ``path``, or
    with ``files > 1`` as that many equal slices ``path/part-NNNNN.parquet``
    (a crawl arrives as many files; each is a unit of scan parallelism)."""
    if files == 1:
        pq.write_table(table, path, **_WRITE)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"), **_WRITE)


def _zipf_ranks(rng: np.random.Generator, a: float, n: int, size: int) -> np.ndarray:
    """``size`` ranks in ``[0, n)``, zipf-skewed so low ranks are hubs."""
    return (rng.zipf(a, size) - 1) % n


def _words(rng: np.random.Generator, lo: int, hi: int, rows: int) -> list[str]:
    lens = rng.integers(lo, hi, rows)
    idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    words = VOCAB[idx]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def page_urls(seed: int, n: int) -> np.ndarray:
    """The url of page ``i`` of a crawl of ``n`` pages: zipf-skewed hosts."""
    rng = np.random.default_rng([seed, 0])
    n_hosts = max(20, n // 40)
    host = _zipf_ranks(rng, 1.3, n_hosts, n)
    return np.array(
        [f"https://site{h}.{TLDS[h % 5]}/p{i}" for i, h in enumerate(host)],
        dtype=object,
    )


def web_pages(seed: int, urls: np.ndarray, rows: np.ndarray, stream: int,
              link_space: int | None = None) -> pa.Table:
    """Pages ``(url, warc_ts, html, text, lang)`` for the crawl rows
    ``rows`` (indices into ``urls``). ``stream`` separates independent
    crawls of the same urls (a re-crawl gets new text and a new timestamp).

    Each text is 100-199 vocabulary words, a keyword clause and 8-16 whole
    outlink urls drawn zipf-skewed over ``urls[:link_space]``, so a few hub
    pages receive most links.
    """
    rng = np.random.default_rng([seed, 1, stream])
    n = len(rows)
    space = link_space or len(urls)
    body = _words(rng, 100, 200, n)
    kw = rng.integers(0, len(KEYWORDS), (n, 2))
    n_links = rng.integers(8, 17, n)
    targets = urls[_zipf_ranks(rng, 1.2, space, int(n_links.sum()))]
    link_cuts = np.cumsum(n_links)[:-1]
    texts = [
        f"{b}. keywords: {KEYWORDS[k[0]]}, {KEYWORDS[k[1]]}. links: {' '.join(t)}."
        for b, k, t in zip(body, kw, np.split(targets, link_cuts))
    ]
    ts = (1704067200 + rng.integers(0, 31_536_000, n)) * 1_000_000
    return pa.table({
        "url": pa.array(urls[rows].tolist(), pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array([f"<html><body><p>{t}</p></body></html>".encode()
                          for t in texts], pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)].tolist(), pa.string()),
    })


# --- wide clinical-annotation table (oncokb-shaped, every cell a string) ---

GENES = np.array([f"G{i:04d}" for i in range(600)], dtype=object)
TUMORS = np.array([f"Tumor type {i}" for i in range(40)], dtype=object)
ONCOGENIC = np.array(["Oncogenic", "Likely Oncogenic", "Likely Neutral",
                      "Inconclusive", "Resistance", "Unknown"], dtype=object)
EFFECTS = np.array(["Gain-of-function", "Loss-of-function", "Switch-of-function",
                    "Likely Gain-of-function", "Likely Loss-of-function",
                    "Neutral", "Unknown"], dtype=object)
LEVELS = np.array(["LEVEL_1", "LEVEL_2", "LEVEL_3A", "LEVEL_3B", "LEVEL_4",
                   "LEVEL_R1", "LEVEL_R2"], dtype=object)
DRUGS = np.array([f"Drug{i:03d}" for i in range(250)], dtype=object)
AMINO = np.array(list("ACDEFGHIKLMNPQRSTVWY"), dtype=object)
# Categorical filler columns that bring the table to 40 columns.
FILLER = [f"annot{i:02d}" for i in range(24)]


def table_rows(seed: int, n: int) -> pa.Table:
    """A 41-column all-string table shaped like an oncokb annotation export:
    ids, gene symbols, categorical columns, and comma- and semicolon-joined
    lists."""
    rng = np.random.default_rng([seed, 2])
    gene_idx = _zipf_ranks(rng, 1.4, len(GENES), n)
    patient = rng.integers(0, max(10, n // 8), n)
    sample = patient * 3 + rng.integers(0, 3, n)
    pos = rng.integers(1, 1500, n)
    alteration = [f"{AMINO[a]}{p}{AMINO[b]}" for a, p, b in
                  zip(rng.integers(0, 20, n), pos, rng.integers(0, 20, n))]
    n_pm = rng.integers(1, 9, n)
    pmids = _zipf_ranks(rng, 1.1, 20_000, int(n_pm.sum())) + 10_000_000
    citations = [",".join(map(str, p)) for p in np.split(pmids, np.cumsum(n_pm)[:-1])]
    n_dr = rng.integers(0, 5, n)
    drugs = DRUGS[_zipf_ranks(rng, 1.3, len(DRUGS), int(n_dr.sum()))]
    treatments = [";".join(d) for d in np.split(drugs, np.cumsum(n_dr)[:-1])]
    descr = _words(rng, 15, 40, n)

    def pick(values: np.ndarray) -> list[str]:
        return values[rng.integers(0, len(values), n)].tolist()

    cols = {
        "id": [f"V{i:07d}" for i in range(n)],
        "patient_id": [f"P{p:06d}" for p in patient],
        "sample_id": [f"S{s:07d}" for s in sample],
        "hugoSymbol": GENES[gene_idx].tolist(),
        "entrezGeneId": [str(1000 + g) for g in gene_idx],
        "alteration": alteration,
        "tumorType": pick(TUMORS),
        "oncogenic": pick(ONCOGENIC),
        "mutationEffect": pick(EFFECTS),
        "citationPMids": citations,
        "treatments": treatments,
        "highestSensitiveLevel": pick(LEVELS[:5]),
        "highestResistanceLevel": pick(LEVELS[5:]),
        "knownEffect": pick(np.array(["yes", "no", "unknown"], dtype=object)),
        "dataVersion": pick(np.array(["v3.14", "v3.15", "v4.0"], dtype=object)),
        "lastUpdate": [f"2024-{m:02d}-{d:02d}" for m, d in
                       zip(rng.integers(1, 13, n), rng.integers(1, 29, n))],
        "description": descr,
    }
    for j, name in enumerate(FILLER):
        vals = np.array([f"{name}_{v}" for v in range(3 + j)], dtype=object)
        cols[name] = pick(vals)
    return pa.table({k: pa.array(v, pa.string()) for k, v in cols.items()})
