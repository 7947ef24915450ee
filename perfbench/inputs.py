"""Seeded input generation. Everything here runs outside the timed
region, and the same seed always gives the same bytes.

* :func:`write_documents` writes a ``documents.parquet`` shaped like
  the sf-scale fixture tables (doc_id, text, lang, source, n_chars):
  uniform words from the fixture's 31-word vocabulary, 10 to 100 words
  per doc, 20 round-robin sources and a planted share of near-duplicate
  docs so the dedup queries find clusters.
* :func:`bulk_pages` builds the rows ``pages_replicated`` makes from
  those docs, with each replica's ``/r/<rep>`` url suffix replaced by a
  seeded token. It builds them in Python because a Spark job here would
  cost more than the timed run; the smoke test checks the html equals
  ``pages_replicated``'s.
* :func:`heavy_pages` replicates the ``gen_fixture_pages`` variety
  matrix under distinct urls and gives a seeded share of the template
  pages a ``<![CDATA[...]]>`` marked section, which sends them down the
  reference-parser path without changing their text.

:func:`write_pages` writes the (url, html) parquet the program reads:
page order and file placement are seeded, and the session reads each
file as one partition (see ``run.session_conf``).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_SHARE = 0.02
BODY_REPEAT = 8   # pages_replicated's default

# a marked section html.parser drops without emitting data; fastscan
# bails on it, so the page takes the reference tokenizer
CDATA = b"<![CDATA[ if (a < b && c > d) { render(); } ]]>"
CDATA_SHARE = 0.25


def write_documents(path: str, n_docs: int, seed: int) -> pa.Table:
    """Write the seeded documents table and return it."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))))
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), type=pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return table


def page_url(doc_id: int) -> str:
    """``webextract.sources.pages.page_url`` for one doc."""
    host = 0 if doc_id % 2 == 0 else doc_id % 37
    return f"https://host{host}.example/doc/{doc_id}"


def page_html(doc_id: int, source: str, body: str) -> bytes:
    from webextract.sources.pages import _TPL_HEAD, _TPL_MID, _TPL_TAIL

    return (
        f"{_TPL_HEAD}Document {doc_id} from {source}{_TPL_MID}{body}{_TPL_TAIL}"
    ).encode()


def corpus_pages(docs: pa.Table) -> list[dict]:
    """The rows of ``pages_from_documents`` (url, html), doc order."""
    return [
        {"url": page_url(i), "html": page_html(i, s, t)}
        for i, t, s in zip(
            docs["doc_id"].to_pylist(), docs["text"].to_pylist(),
            docs["source"].to_pylist(),
        )
    ]


def bulk_pages(docs: pa.Table, replicas: int, seed: int) -> list[dict]:
    """``pages_replicated(docs, replicas)`` rows (url, html) in seeded
    order, each replica suffix a seeded hex token."""
    rng = random.Random(seed)
    mult, offset = rng.randrange(1, 1 << 20) * 2 + 1, rng.randrange(1 << 30)
    pages = []
    for i, t, s in zip(
        docs["doc_id"].to_pylist(), docs["text"].to_pylist(),
        docs["source"].to_pylist(),
    ):
        html = page_html(i, s, "</p><p>".join([t] * BODY_REPEAT))
        for rep in range(replicas):
            pages.append({"url": f"{page_url(i)}/r/{rep * mult + offset:x}", "html": html})
    rng.shuffle(pages)
    return pages


def heavy_pages(replicas: int, seed: int) -> list[dict]:
    """The fixture variety matrix ``replicas`` times, urls made distinct
    by a ``/r/<k>`` suffix, in seeded order. A seeded ``CDATA_SHARE`` of
    the template pages (every fixture except the giant page) carries
    the CDATA section."""
    from webextract.sources.pages import gen_fixture_pages

    rng = random.Random(seed)
    matrix = gen_fixture_pages()
    pages = [
        {"url": f"{p['url']}/r/{k}", "html": p["html"], "case": p["case"]}
        for k in range(replicas)
        for p in matrix
    ]
    templates = [i for i, p in enumerate(pages) if p["case"] != "giant_page"]
    for i in rng.sample(templates, round(CDATA_SHARE * len(templates))):
        pages[i]["html"] = with_cdata(pages[i]["html"])
    rng.shuffle(pages)
    return pages


def with_cdata(html: bytes) -> bytes:
    """Insert the CDATA section right after ``<body>``."""
    at = html.index(b"<body>") + len(b"<body>")
    return html[:at] + CDATA + html[at:]


def write_pages(pages: list[dict], out_dir: str, n_files: int, seed: int) -> None:
    """Write (url, html) as ``n_files`` parquet files. Pages are dealt
    largest first over a seeded file order, so every file gets an even
    share of the heavy tail, then shuffled (seeded) within the file."""
    rng = random.Random(seed)
    files = list(range(n_files))
    rng.shuffle(files)
    parts: list[list[dict]] = [[] for _ in range(n_files)]
    for k, p in enumerate(sorted(pages, key=lambda p: -len(p["html"]))):
        parts[files[k % n_files]].append(p)
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(parts):
        rng.shuffle(part)
        pq.write_table(
            pa.table(
                {
                    "url": pa.array([p["url"] for p in part], type=pa.string()),
                    "html": pa.array([p["html"] for p in part], type=pa.binary()),
                }
            ),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )
