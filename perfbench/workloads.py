"""Seeded input corpora and pipeline configurations of the benchmark.

Every corpus is a pure function of (workload, seed, pages): the same
arguments give byte-identical parquet.  Generation runs in plain Python
(``kgspark.datagen`` generators + pyarrow) so no Spark job runs before
the measured session starts, and a cached corpus leaves the measured
process in the same state as a freshly written one.

Workloads:

* ``crawl_html``: ``datagen.generate_rows`` pages plus a 1% seeded tail of
  malformed pages (long runs of unclosed ``<nav>`` / ``<!--``) and
  ~0.3 MB single-paragraph pages; parity ``KgConfig()``; html input.
* ``crawl_text_dirty``: text-only (WET-style) pages, 25% of them
  byte-identical duplicates under new urls, one hot domain above the
  salting threshold, templated-spam pages for the Gopher caps and an
  entity vocabulary with case/article/suffix variants for LSH linking.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from kgspark import datagen
from kgspark.config import KgConfig
from kgspark.kernels.html_extract import render_page

PAGES_ARROW_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])

# files per corpus: fixed, so the input layout does not depend on the host
CORPUS_FILES = 8


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    pages: int            # default corpus size (clean pages before any tail)
    from_html: bool

    def config(self, pages: int) -> KgConfig:
        if self.from_html:
            return KgConfig()
        # the hot domain holds ~30% of urls; salting fires above 10%
        return KgConfig(page_dedup_enabled=True, quality_filter_enabled=True,
                        lsh_linking_enabled=True,
                        hot_domain_threshold=max(pages // 10, 1))

    def rows(self, seed: int, pages: int) -> list[tuple]:
        if self.from_html:
            return html_rows(seed, pages)
        return text_dirty_rows(seed, pages)


WORKLOADS = {
    w.name: w for w in (
        Workload("crawl_html", pages=1000, from_html=True),
        Workload("crawl_text_dirty", pages=150, from_html=False),
    )
}

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _ts(i: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(days=(i * 7) % 1000, seconds=(i * 137) % 86400)


# --- crawl_html --------------------------------------------------------------

TAIL_SHARE = 0.01
TAIL_DOMAIN = "tail.example"


def _malformed_page(rng: random.Random, i: int) -> bytes:
    """A clean page with a run of unclosed boilerplate openers ahead of
    the article: no closer follows, so lazy ``.*?`` scans restart from
    every opener."""
    opener = rng.choice(["<nav>", "<!--"])
    run = rng.randint(400, 1600)
    page = render_page(datagen.make_doc(rng, "en"), title=f"tail {i}")
    junk = "".join(f"{opener}menu item {k} " for k in range(run))
    return page.replace(b"<article>", junk.encode() + b"<article>", 1)


def _oversized_page(rng: random.Random, i: int) -> bytes:
    """~0.3 MB of English prose in ONE paragraph with ASCII ``.`` enders,
    which the chunker does not split on: a whole-page chunk."""
    sents, size = [], 0
    while size < 300_000:
        s = f"{rng.choice(datagen.ENTITIES)} {rng.choice(datagen.VERBS)} " \
            f"{rng.choice(datagen.ENTITIES)}."
        sents.append(s)
        size += len(s) + 1
    return render_page(" ".join(sents), title=f"tail {i}")


def html_rows(seed: int, pages: int) -> list[tuple]:
    rows = datagen.generate_rows(pages, seed)
    rng = random.Random(f"tail-{seed}")
    n_tail = max(2, round(pages * TAIL_SHARE))
    for k in range(n_tail):
        i = pages + k
        html = _malformed_page(rng, i) if k % 2 == 0 else _oversized_page(rng, i)
        # html-only pages: no shipped text column (WARC-style)
        rows.append((f"https://{TAIL_DOMAIN}/page/{i:08d}", _ts(i), html, None, "en"))
    return rows


def tail_urls(rows: list[tuple]) -> list[str]:
    return [r[0] for r in rows if f"//{TAIL_DOMAIN}/" in r[0]]


# --- crawl_text_dirty --------------------------------------------------------

HOT_DOMAIN = "hot.example"
VOCAB_SIZE = 1500

_ONSET = ("b", "br", "d", "dr", "f", "g", "gl", "h", "k", "kr", "l", "m", "n",
          "p", "pr", "r", "s", "st", "t", "tr", "v", "w", "z")
_VOWEL = ("a", "e", "i", "o", "u", "ai", "ea", "ou")
_CODA = ("", "n", "r", "l", "s", "th", "x", "m")
_SUFFIX = ("Group", "Ltd")
_EN_VERBS = ("supports", "funds", "develops", "includes", "requires",
             "promotes", "uses", "builds", "governs", "provides", "creates",
             "enables", "produces", "regulates", "expands")
_ENDERS = ("!", "?", "！", "？", "。")
_SPAM = ("buy cheap {} now at the best price online today",
         "limited offer on {} click here to order now",
         "free shipping for every {} order placed this week")


def _vocabulary(rng: random.Random) -> list[str]:
    """Two invented words per name: unrelated names share few character
    trigrams, so LSH candidates are mostly true variants."""
    def word() -> str:
        return "".join(rng.choice(_ONSET) + rng.choice(_VOWEL) + rng.choice(_CODA)
                       for _ in range(rng.randint(2, 3))).capitalize()

    names: set[str] = set()
    while len(names) < VOCAB_SIZE:
        names.add(f"{word()} {word()}")
    return sorted(names)


def _variant(rng: random.Random, name: str) -> str:
    r = rng.random()
    if r < 0.45:
        return name
    if r < 0.65:
        return name.lower()
    if r < 0.8:
        return f"the {name}"
    return f"{name} {rng.choice(_SUFFIX)}"


def _vocab_paragraph(rng: random.Random, vocab: list[str]) -> str:
    sents = []
    for _ in range(rng.randint(3, 7)):
        a, b = rng.sample(vocab, 2)
        sents.append(f"{_variant(rng, a)} {rng.choice(_EN_VERBS)} "
                     f"{_variant(rng, b)}{rng.choice(_ENDERS)}")
    return " ".join(sents)


def _spam_text(rng: random.Random) -> str:
    line = rng.choice(_SPAM).format(rng.choice(("watches", "shoes", "phones")))
    return "\n".join([line] * rng.randint(25, 40))


def text_dirty_rows(seed: int, pages: int) -> list[tuple]:
    """``pages`` rows in total.  The shares are exact, not drawn, so
    corpora of different seeds differ only in content: every 4th page
    copies an earlier page byte for byte under a new url, every 16th is
    templated spam, and 3 in 10 urls sit on the hot domain."""
    rng = random.Random(f"dirty-{seed}")
    vocab = _vocabulary(rng)
    langs = ("en", "zh", "mixed")
    texts: list[tuple[str, str]] = []
    rows = []
    for i in range(pages):
        if i % 4 == 3:
            text, lang = rng.choice(texts)
        elif i % 16 == 5:
            text, lang = _spam_text(rng), "en"
        else:
            lang = langs[i % 3]
            paras = datagen.make_doc(rng, lang).split("\n\n")
            for _ in range(rng.randint(1, 3)):
                paras.insert(rng.randint(0, len(paras)), _vocab_paragraph(rng, vocab))
            text = "\n\n".join(paras)
            texts.append((text, lang))
        domain = HOT_DOMAIN if i % 10 < 3 else f"site{rng.randrange(200)}.example"
        rows.append((f"https://{domain}/doc/{i:08d}", _ts(i), None, text, lang))
    return rows


# --- files -------------------------------------------------------------------

def write_rows(rows: list[tuple], path: str) -> None:
    """Write rows as CORPUS_FILES parquet files, atomically: a reader
    sees either no directory or the whole corpus."""
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cols = list(zip(*rows))
    per = -(-len(rows) // CORPUS_FILES)
    for k in range(CORPUS_FILES):
        lo, hi = k * per, min((k + 1) * per, len(rows))
        if lo >= hi:
            break
        table = pa.Table.from_arrays(
            [pa.array(c[lo:hi], type=f.type) for c, f in zip(cols, PAGES_ARROW_SCHEMA)],
            schema=PAGES_ARROW_SCHEMA)
        pq.write_table(table, os.path.join(tmp, f"part-{k:03d}.parquet"))
    try:
        os.rename(tmp, path)
    except OSError:  # another process published it first
        shutil.rmtree(tmp, ignore_errors=True)


def corpus(work: str, wl: Workload, seed: int, pages: int) -> tuple[str, list[tuple]]:
    """(parquet path, rows) for the workload's corpus, cached per seed."""
    rows = wl.rows(seed, pages)
    kind = "html" if wl.from_html else "text_dirty"
    path = os.path.join(work, "corpus", f"{kind}-s{seed}-n{pages}")
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_rows(rows, path)
    return path, rows


def describe(rows: list[tuple]) -> dict:
    """Corpus shape for the run record."""
    urls = {r[0] for r in rows}
    contents = [r[2] if r[2] is not None else (r[3] or "").encode() for r in rows]
    return {
        "pages": len(rows),
        "distinct_urls": len(urls),
        "distinct_contents": len(set(contents)),
        "bytes": sum(len(c) for c in contents),
        "hot_domain_pages": sum(1 for r in rows if f"//{HOT_DOMAIN}/" in r[0]),
        "tail_pages": len(tail_urls(rows)),
    }

