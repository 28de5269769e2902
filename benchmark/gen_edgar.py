"""Seeded EDGAR inputs: the company and filing-type seed CSVs, one
``master.idx`` per quarter, and the filing fetcher that serves generated
SGML documents.

The fetcher is a module-level function so Spark's Python workers import
it by name. It is a pure function of (seed, path, landing quarter, plan):
a filing planned to fail fails on its first attempt (the wave that lands
its quarter) and succeeds on every later attempt, however many times a
plan evaluates the fetch.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random

FAIL_P = 0.02
# kept filings per idx row: the reference's quarter of 400k rows keeps
# 32.7k filings after the company and form-type filters
KEPT_FRAC = 0.082
PREAMBLE = [
    "Description:           Master Index of EDGAR Dissemination Feed",
    "Last Data Received:    {last}",
    "Comments:              webmaster@sec.gov",
    "Anonymous FTP:         ftp://ftp.sec.gov/edgar/",
    "Cloud HTTP:            https://www.sec.gov/Archives/",
    "",
    "",
    "",
    "CIK|Company Name|Form Type|Date Filed|Filename",
]
SEPARATOR = "-" * 80

# (type, keep) rows of the filing-types seed; '/A' amendments are their
# own rows, as in the reference's seed CSV
FILING_TYPES = [
    ("10-K", 1), ("10-K/A", 1), ("10-Q", 1), ("10-Q/A", 1), ("8-K", 1),
    ("8-K/A", 1), ("DEF 14A", 1), ("S-1", 1), ("S-1/A", 1), ("424B3", 1),
    ("SC 13G", 1), ("SC 13G/A", 1), ("20-F", 1), ("6-K", 1), ("11-K", 1),
    ("3", 0), ("4", 0), ("4/A", 0), ("5", 0), ("144", 0), ("D", 0),
    ("13F-HR", 0), ("497", 0), ("N-Q", 0),
]
# form types of idx rows, most common first; the last two are not in the
# seed at all and are dropped by the type filter like unkept ones
IDX_TYPES = [t for t, _ in FILING_TYPES] + ["UPLOAD", "CORRESP"]
IDX_TYPE_W = [6, 1, 12, 2, 14, 2, 3, 1, 1, 4, 3, 2, 1, 2, 1,
              8, 30, 2, 2, 3, 3, 4, 4, 1, 3, 3]

WORDS = (
    "revenue income operating company fiscal quarter annual report market "
    "shares common stock risk factors management discussion analysis net "
    "loss cash flow assets liabilities equity statements financial notes "
    "results period ended december june march september growth sales cost "
    "expenses tax interest debt credit agreement board directors officer "
    "executive compensation plan securities exchange commission filing"
).split()
BINARY_EXTS = [".jpg", ".pdf", ".zip", ".gif", ".xlsx"]
_B64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdef0123456789+/"


def _h(*parts) -> int:
    return int(hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()[:12], 16)


def write_seeds(out_dir: str, seed: int, n_companies: int = 1500,
                cik_pool: int = 6000) -> dict:
    """companies.csv (BOM, quoted names with commas, ~5% null CIKs) and
    filing_types.csv. Returns the universe CIKs and kept types."""
    rng = random.Random(seed)
    ciks = rng.sample(range(1000, 1000 + cik_pool * 50, 7), cik_pool)
    listed = ciks[:n_companies]
    universe = set()
    lines = ["\ufeffpermno,ticker,cik,business_name"]
    for i, cik in enumerate(listed):
        name = f'"Company {i}, Inc. ""{_word(rng)}"""'
        if rng.random() < 0.05:
            lines.append(f"{10000 + i},T{i},,{name}")
        else:
            universe.add(cik)
            lines.append(f"{10000 + i},T{i},{cik},{name}")
    with open(os.path.join(out_dir, "companies.csv"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(out_dir, "filing_types.csv"), "w", encoding="utf-8") as fh:
        fh.write("type_id,type,keep\n")
        for i, (t, keep) in enumerate(FILING_TYPES):
            fh.write(f'{i},"{t}",{keep}\n')
    kept = {t for t, keep in FILING_TYPES if keep}
    return {"ciks": ciks, "universe": universe, "kept_types": kept}


def _word(rng) -> str:
    return rng.choice(WORDS)


def quarter_of(wave: int) -> tuple[int, int]:
    return 2010 + wave // 4, wave % 4 + 1


def write_quarter(out_dir: str, seed: int, wave: int, seeds: dict,
                  n_rows: int) -> tuple[str, dict]:
    """Write the master.idx of ``wave``'s quarter and its ``truth.json``
    beside it. Returns the idx path and the truth: kept filings (paths),
    the ones whose first fetch fails, and the fetch plan {path: (bytes,
    attachments, fails first)}.

    Every quarter has the same make-up whatever the seed: ``KEPT_FRAC`` of
    the rows name a filing the filters keep, ``FAIL_P`` of those fail their
    first fetch, and document sizes and attachment counts are spread
    evenly over their ranges; the seed picks which rows, CIKs and words."""
    year, qtr = quarter_of(wave)
    rng = random.Random(_h(seed, "idx", wave))
    listed = _ZipfPool([c for c in seeds["ciks"] if c in seeds["universe"]])
    unlisted = _ZipfPool([c for c in seeds["ciks"] if c not in seeds["universe"]])
    kept_types = [(t, w) for t, w in zip(IDX_TYPES, IDX_TYPE_W) if t in seeds["kept_types"]]
    dropped_types = [(t, w) for t, w in zip(IDX_TYPES, IDX_TYPE_W)
                     if t not in seeds["kept_types"]]
    n_kept = round(KEPT_FRAC * n_rows)
    n_cut = round(0.01 * n_rows)
    classes = ["kept"] * n_kept + ["cut"] * n_cut + ["dropped"] * (n_rows - n_kept - n_cut)
    rng.shuffle(classes)
    rows, kept = [], []
    for i, cls in enumerate(classes):
        # CIKs skewed toward a few filers; dropped rows come from listed
        # companies (unkept form types) and unlisted ones alike
        cik = (listed if cls == "kept" or rng.random() < 0.5 else unlisted).pick(rng)
        pool = kept_types if cls == "kept" else dropped_types
        ftype = rng.choices([t for t, _ in pool], weights=[w for _, w in pool])[0]
        month = 3 * (qtr - 1) + rng.randint(1, 3)
        date = f"{year}-{month:02d}-{rng.randint(1, 28):02d}"
        path = f"edgar/data/{cik}/{year}q{qtr}-{i:07d}.txt"
        name = f"COMPANY {cik % 997} {_word(rng).upper()}"
        if cls == "cut":
            # truncated before the date: no date, no path (a dropped form
            # type, so no filing without a path is kept)
            rows.append(f"{cik}|{name}|{ftype}")
            continue
        if cls == "kept" and rng.random() < 0.02:
            # truncated inside the path: the row still names one filing
            path = path[: len(path) - rng.randint(1, 4)]
        rows.append(f"{cik}|{name}|{ftype}|{date}|{path}")
        if cls == "kept":
            kept.append(path)
    last = f"{['March', 'June', 'September', 'December'][qtr - 1]} 28, {year}"
    text = "\n".join([p.format(last=last) for p in PREAMBLE] + [SEPARATOR] + rows) + "\n"
    idx_path = os.path.join(out_dir, f"{year}QTR{qtr}", "master.idx")
    os.makedirs(os.path.dirname(idx_path), exist_ok=True)
    with open(idx_path, "w", encoding="utf-8") as fh:
        fh.write(text)
    fails = set(rng.sample(kept, round(FAIL_P * n_kept)))
    order = list(range(n_kept))
    rng.shuffle(order)
    plan = {
        p: (int(2_000 * 30 ** ((k + 0.5) / n_kept)), k % 4, p in fails)
        for p, k in zip(kept, order)
    }
    truth = {"kept": kept, "fails": sorted(fails), "plan": plan, "year": year, "qtr": qtr}
    with open(os.path.join(os.path.dirname(idx_path), "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return idx_path, truth


class _ZipfPool:
    """CIKs drawn with weight 1 / rank^0.8: a few filers file most."""

    def __init__(self, pool: list[int]):
        self.pool = pool
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** 0.8 for r in range(len(pool))))

    def pick(self, rng) -> int:
        return rng.choices(self.pool, cum_weights=self.cum)[0]


def markers(seed: int, path: str) -> tuple[str, str]:
    """(marker kept in the filing's text, marker inside an attachment)."""
    h = _h(seed, "mark", path)
    return f"mkr{h % 16**8:08x}", f"att{(h >> 20) % 16**8:08x}"


def marker_cols(seed: int, path_col):
    """``markers`` as Spark columns of a path column: the same md5 digits
    (the marker is hex digits 4-11 of the 12-digit prefix, the attachment
    marker digits 0-6, zero-padded)."""
    from pyspark.sql import functions as F

    h = F.md5(F.concat(F.lit(f"{seed}|mark|"), path_col))
    return (F.concat(F.lit("mkr"), F.substring(h, 5, 8)),
            F.concat(F.lit("att0"), F.substring(h, 1, 7)))


def fetch_filing(path: str, seed: int, landing: str, plan: dict) -> str:
    """SGML for ``path``: one HTML text document of ``plan[path][0]``
    bytes with entities, runs of 20+ characters and a marker word, plus
    ``plan[path][1]`` base64 attachments whose filenames carry binary
    extensions. Raises on the first attempt of a filing planned to fail,
    i.e. when ``landing`` (the quarter being loaded, ``YYYYqN``) is the
    filing's own quarter."""
    if path not in plan:
        raise ValueError(f"no such filing: {path}")
    size, n_att, fails = plan[path]
    if fails and f"/{landing}-" in path:
        raise OSError(f"fetch failed: {path}")
    rng = random.Random(_h(seed, "doc", path))
    keep_mark, att_mark = markers(seed, path)
    # about 8 bytes a word; 2% of the words in tags, 1.5% next to an
    # entity, 0.1% replaced by a run of 20-40 characters
    n = max(8, size // 8)
    words = rng.choices(WORDS, k=n)
    marked = rng.sample(range(n), round(0.036 * n))
    for j, i in enumerate(marked):
        kind = j % 36
        if kind < 20:
            words[i] = f"<b>{words[i]}</b>"
        elif kind < 30:
            words[i] = f"{words[i]}&nbsp;"
        elif kind < 35:
            words[i] = f"&#160;{words[i]}"
        else:
            words[i] = "x" * rng.randint(20, 40)
    words.insert(n // 2, keep_mark)
    body = " ".join(words)
    parts = [
        "<SEC-DOCUMENT>",
        "<DOCUMENT>\n<TYPE>10-K\n<FILENAME>main.htm\n<TEXT>",
        f"<html><body><p>{body}</p>\n<p>Quarterly\ttotals\r\n</p></body></html>",
        "</TEXT>\n</DOCUMENT>",
    ]
    for j in range(n_att):
        lines = rng.randint(5, 40)
        chars = "".join(rng.choices(_B64, k=76 * lines))
        blob = "\n".join(chars[k:k + 76] for k in range(0, len(chars), 76))
        ext = rng.choice(BINARY_EXTS)
        parts.append(
            f"<DOCUMENT>\n<TYPE>GRAPHIC\n<FILENAME>exhibit{j}{ext}\n<TEXT>\n"
            f"begin 644 exhibit{j}{ext} {att_mark}\n{blob}\nend\n</TEXT>\n</DOCUMENT>"
        )
    parts.append("</SEC-DOCUMENT>")
    return "\n".join(parts)
