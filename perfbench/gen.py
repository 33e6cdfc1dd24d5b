"""Seeded input generators for the corpus-pipeline benchmark.

Pure Python + pyarrow, no Spark and no download: the same seed always
yields byte-identical parquet files. Each workload's tables are written
once per seed under the benchmark's cache directory and reused, so
generation never falls inside a timed metric.

Corpus model (web-crawl shaped, five languages):

* clean multi-line prose over a per-language vocabulary (function words
  that drive the stop-word and langid signals, plus content words);
* low-quality kinds the label stage drops: too-short, flagged-word,
  repetitive and low-entropy pages;
* PII pages (emails, phone numbers, IPs) for the scrub pass;
* exact duplicates and near duplicates (one appended sentence) of clean
  pages, so both dedup tiers remove something;
* a hot host carrying ~20 % of urls and timestamps spread over five days
  (the ``lang``/``date`` partitions of committed tables).

The pages table adds a boilerplate-template flood (eight templates, each
copy with two variant tokens appended: large LSH buckets) and one page
text repeated on many urls (a hot exact-dedup fingerprint).

The registry tables follow the ``documents``/``embeddings`` layout the
query registry reads (``<dir>/documents.parquet``,
``<dir>/embeddings.parquet``): corpus documents plus unit-length 64-dim
embeddings in a few labelled clusters.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "fr", "es", "it")

# function words per language: stop-word and langid-marker hits
FUNCTION_WORDS = {
    "en": "the a an and or of to in is on for with as at by it be are was this that".split(),
    "de": "der die das und ist nicht mit ein eine den ich".split(),
    "fr": "le la les et est pas une des dans pour".split(),
    "es": "el los las es una para por con del como".split(),
    "it": "il di che non per sono della nel anche una".split(),
}
FLAGGED = ("viagra", "casino", "xxx", "spam")
HOT_HOST = "hot-portal.example.com"
N_HOSTS = 40
N_FILES = 4
BASE_TS = dt.datetime(2026, 3, 1)

TEMPLATES = (
    "accept all cookies to continue reading this site uses cookies to "
    "improve your experience and deliver personalised advertising",
    "copyright all rights reserved terms of service privacy policy "
    "contact us about careers press sitemap newsletter subscribe",
    "sign in to your account email address password forgot password "
    "remember me create free account continue with social login",
    "breaking news latest headlines top stories world politics business "
    "technology sports entertainment weather traffic local updates",
    "add to cart free shipping on orders over fifty in stock ships "
    "within two business days easy returns secure checkout guarantee",
    "comments are closed for this article share this story on social "
    "media related articles recommended for you trending now popular",
    "page not found the page you requested could not be located "
    "return to homepage search our archive browse categories help",
    "download our mobile app available on all platforms rate this page "
    "was this article helpful yes no send feedback to the editors",
)


def _content_words(lang: str) -> list[str]:
    """300 pronounceable content words per language, fixed (seed-free), so
    the vocabulary is the same for every workload seed."""
    rng = random.Random(f"vocab-{lang}")
    onsets = "b c d f g l m n p r s t v z br tr st pl gr ch".split()
    vowels = "a e i o u ai ou ei".split()
    words: set[str] = set()
    while len(words) < 300:
        n_syl = rng.randint(2, 3)
        words.add("".join(rng.choice(onsets) + rng.choice(vowels) for _ in range(n_syl)))
    return sorted(words)


VOCAB = {lang: _content_words(lang) for lang in LANGS}


def _sentence(rng: random.Random, lang: str, n: int) -> str:
    fw, cw = FUNCTION_WORDS[lang], VOCAB[lang]
    return " ".join(
        rng.choice(fw) if rng.random() < 0.35 else rng.choice(cw) for _ in range(n)
    ) + "."


def _text(rng: random.Random, lang: str, kind: str, i: int) -> str:
    if kind == "short":
        return _sentence(rng, lang, rng.randint(1, 6))
    if kind == "flagged":
        return (_sentence(rng, lang, 20) + " " + " ".join(FLAGGED) + " "
                + _sentence(rng, lang, 8))
    if kind == "repetitive":
        return " ".join([_sentence(rng, lang, 6)] * rng.randint(8, 15))
    if kind == "low_entropy":
        return " ".join([rng.choice(VOCAB[lang])] * rng.randint(40, 80))
    if kind == "pii":
        return (
            _sentence(rng, lang, 20)
            + f"\nreach me at user{i}@mail.example.com or 555-{100 + i % 900:03d}-4567"
            + f" host 192.168.{i % 200}.{i % 255}\n"
            + _sentence(rng, lang, 15)
        )
    return "\n".join(
        _sentence(rng, lang, rng.randint(8, 20)) for _ in range(rng.randint(3, 8))
    )


_KINDS = (("clean", 60), ("short", 8), ("flagged", 6), ("repetitive", 8),
          ("low_entropy", 4), ("pii", 14))


def corpus(n: int, seed: int) -> list[dict]:
    """``n`` pages: dict(url, warc_ts, text, lang), ~10 % exact and ~10 %
    near duplicates of clean pages."""
    rng = random.Random(seed)
    kinds = [k for k, w in _KINDS for _ in range(w)]
    rows: list[dict] = []
    i = 0
    while len(rows) < n:
        lang = rng.choice(LANGS)
        kind = rng.choice(kinds)
        text = _text(rng, lang, kind, i)
        host = HOT_HOST if rng.random() < 0.2 else f"site{rng.randrange(N_HOSTS)}.example.org"
        ts = BASE_TS + dt.timedelta(
            days=rng.randint(0, 4), hours=rng.randint(0, 23), minutes=rng.randint(0, 59)
        )
        rows.append({"url": f"https://{host}/{lang}/doc-{i}.html", "warc_ts": ts,
                     "text": text, "lang": lang})
        i += 1
        r = rng.random()
        if kind == "clean" and r < 0.2 and len(rows) < n:
            if r < 0.1:
                dup = text
                path = "dup"
            else:
                dup = text + "\n" + _sentence(rng, lang, 4)
                path = "near"
            rows.append({
                "url": f"https://site{rng.randrange(N_HOSTS)}.example.org/{path}/{i}.html",
                "warc_ts": ts + dt.timedelta(hours=1), "text": dup, "lang": lang,
            })
            i += 1
    return rows


def _escape(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def html_of(text: str) -> bytes:
    """The page wrapper ``functions.extract.extract_text`` inverts."""
    return ("<html><head><title>page</title></head><body>" + _escape(text)
            + "</body></html>").encode("utf-8")


def _write(table: pa.Table, dest: str) -> None:
    """``table`` as N_FILES parquet files, so the scan runs as several tasks."""
    os.makedirs(dest)
    n = table.num_rows
    for f in range(N_FILES):
        lo, hi = f * n // N_FILES, (f + 1) * n // N_FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(dest, f"part-{f:02d}.parquet"),
                       compression="snappy")


def pages_table(n_organic: int, n_template: int, n_repeat: int, seed: int) -> pa.Table:
    """pages(url, warc_ts, html, text, lang): the canonical raw-crawl table
    (``fixtures.PAGES_SCHEMA``; html wraps text) of ``n_organic`` corpus
    pages, a template flood and one page text repeated ``n_repeat`` times,
    shuffled together."""
    rows = corpus(n_organic, seed)
    rng = random.Random(seed + 1)
    for j in range(n_template):
        t = " ".join((TEMPLATES[j % len(TEMPLATES)], rng.choice(VOCAB["en"]),
                      rng.choice(VOCAB["en"])))
        rows.append({"url": f"https://template-farm.example.com/t/{j}.html",
                     "warc_ts": BASE_TS + dt.timedelta(days=j % 5, minutes=j % 1440),
                     "text": t, "lang": "en"})
    hot = _text(rng, "en", "clean", -1)
    for j in range(n_repeat):
        rows.append({"url": f"https://{HOT_HOST}/mirror/{j}.html",
                     "warc_ts": BASE_TS + dt.timedelta(days=j % 5, minutes=j % 1440),
                     "text": hot, "lang": "en"})
    rng.shuffle(rows)
    return pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
        "html": pa.array([html_of(r["text"]) for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })


EMB_DIM = 64
EMB_CLUSTERS = 8


def registry_tables(n_docs: int, n_vecs: int, seed: int) -> dict[str, pa.Table]:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding list<float>, label int32)."""
    rows = corpus(n_docs, seed)
    texts = [r["text"] for r in rows]
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
        "source": pa.array([f"src{i % 4}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    rng = random.Random(seed + 2)
    centres = [[rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)] for _ in range(EMB_CLUSTERS)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        c = rng.randrange(EMB_CLUSTERS)
        v = [x + rng.gauss(0.0, 0.6) for x in centres[c]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(c)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def write_named(tables: dict[str, pa.Table], dest: str) -> None:
    """Each table as the single file ``<dest>/<name>.parquet``."""
    os.makedirs(dest)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"), compression="snappy")


def materialize(make, dest: str, write=_write) -> str:
    """Write ``make()`` to ``dest`` with ``write`` once: later calls with
    the same ``dest`` reuse the files. Written to a temporary sibling then
    renamed, so an interrupted run never leaves a half-written cache entry.
    ``write`` is ``_write`` for one table, ``write_named`` for a dict of
    named tables."""
    if os.path.isdir(dest):
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write(make(), tmp)
    os.rename(tmp, dest)
    return dest
