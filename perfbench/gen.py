"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical parquet inputs.  Inputs are cached per seed under the
cache directory the caller names, and generating them is never timed.

Shapes produced (sizes are fixed in ``SIZES``):

* ``documents``  -- a documents table with the same schema and value
  distribution as the repo's synthetic ``documents.parquet``: 10-100
  words from a 30-word vocabulary, a rare ``dup`` marker word, five
  languages and twenty sources (``src{doc_id % 20}``).
* ``uniform``    -- pages built by ``fixtures.pages_batch`` (documents x
  variants, ~1.6 KB each), written as equal-sized files.
* ``crawl``      -- a crawl-shaped mix: heavy-tailed page sizes (the
  concatenated text of a Pareto-distributed number of documents passed
  to ``fixtures.build_page``) plus a small share of hostile or non-HTML
  payloads, written as a few uneven files clustered by host.
* ``curate``     -- documents with ``dedup.with_injected_dups``-style
  exact copies, and an eval set.
* ``stream``     -- K disjoint doc-id slices of one corpus, each a
  parquet file, in arrival order.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

from cvocr_spark import fixtures

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20

SIZES = {
    # uniform pages: docs x variants
    "uniform_docs": 3000,
    "uniform_variants": 2,
    "uniform_files": 8,
    # crawl mix: pages, each the text of 1..CRAWL_MAX_DOCS documents
    "crawl_pages": 2400,
    "crawl_max_docs": 60,
    "crawl_hostile_share": 0.03,
    "crawl_files": 5,
    # curation corpus (+ every 10th doc copied once) and its eval set
    "curate_docs": 500,
    "curate_eval_docs": 50,
    # cluster maintenance: K slices of slice_docs each
    "stream_batches": 4,
    "stream_slice_docs": 100,
}

# kinds of hostile / non-HTML payloads in the crawl mix, in the order
# the generator cycles through them
HOSTILE_KINDS = ("deep_nesting", "unclosed_script", "binary_junk", "pdf", "gzip", "empty")

DOCS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("source", pa.string()),
        pa.field("n_chars", pa.int64()),
    ]
)


def _rng(seed: int, *key) -> random.Random:
    h = hashlib.sha256(":".join(str(k) for k in (seed,) + key).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def gen_documents(seed: int, n: int, id_base: int = 0, tag: str = "docs") -> pa.Table:
    rng = _rng(seed, tag)
    ids, texts, langs, sources = [], [], [], []
    for i in range(n):
        doc_id = id_base + i
        words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        if rng.random() < 0.05:
            words[rng.randrange(len(words))] = "dup"
        ids.append(doc_id)
        texts.append(" ".join(words))
        langs.append(rng.choices(LANGS, LANG_WEIGHTS)[0])
        sources.append(f"src{doc_id % N_SOURCES}")
    return pa.Table.from_arrays(
        [
            pa.array(ids, pa.int64()),
            pa.array(texts, pa.string()),
            pa.array(langs, pa.string()),
            pa.array(sources, pa.string()),
            pa.array([len(t) for t in texts], pa.int64()),
        ],
        schema=DOCS_SCHEMA,
    )


def _hostile_payload(kind: str, rng: random.Random) -> bytes:
    if kind == "deep_nesting":
        depth = rng.randint(2000, 6000)
        return (
            b"<html><body>" + b"<div>" * depth + b"deep text " * 20
            + b"</div>" * (depth // 2) + b"</body></html>"
        )
    if kind == "unclosed_script":
        return (
            b"<html><head><title>t</title></head><body><p>"
            + b"lead paragraph text before the script tag " * 3
            + b"</p><script>var x = 1;" + b"x += 1; " * rng.randint(500, 4000)
        )
    if kind == "binary_junk":
        return bytes(rng.getrandbits(8) for _ in range(rng.randint(512, 8192)))
    if kind == "pdf":
        return b"%PDF-1.7\n" + bytes(rng.getrandbits(8) for _ in range(2048))
    if kind == "gzip":
        return b"\x1f\x8b\x08\x00" + bytes(rng.getrandbits(8) for _ in range(2048))
    return b""  # empty


def _pages_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [
            pa.array(cols[0], pa.string()),
            pa.array(cols[1], pa.timestamp("us")),
            pa.array(cols[2], pa.binary()),
            pa.array(cols[3], pa.string()),
            pa.array(cols[4], pa.string()),
        ],
        schema=fixtures.PAGES_ARROW_SCHEMA,
    )


def _write_files(table: pa.Table, out_dir: str, bounds: list[int]) -> None:
    """Write rows [bounds[i], bounds[i+1]) of ``table`` as part-i files."""
    os.makedirs(out_dir, exist_ok=True)
    for i in range(len(bounds) - 1):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))


def gen_uniform(seed: int, out_dir: str) -> dict:
    docs = gen_documents(seed, SIZES["uniform_docs"])
    rb = fixtures.pages_batch(
        docs.column("doc_id").to_pylist(),
        docs.column("text").to_pylist(),
        docs.column("lang").to_pylist(),
        docs.column("source").to_pylist(),
        seed,
        SIZES["uniform_variants"],
    )
    table = pa.Table.from_batches([rb])
    n, k = table.num_rows, SIZES["uniform_files"]
    _write_files(table, os.path.join(out_dir, "pages"), [n * i // k for i in range(k + 1)])
    return _page_stats(table, hostile=0)


def gen_crawl(seed: int, out_dir: str) -> dict:
    n_pages = SIZES["crawl_pages"]
    pool = gen_documents(seed, 4000, tag="crawl_pool")
    texts = pool.column("text").to_pylist()
    langs = pool.column("lang").to_pylist()
    rng = _rng(seed, "crawl")
    rows = []
    n_hostile = 0
    for p in range(n_pages):
        source = f"src{rng.randrange(N_SOURCES)}"
        if rng.random() < SIZES["crawl_hostile_share"]:
            kind = HOSTILE_KINDS[n_hostile % len(HOSTILE_KINDS)]
            n_hostile += 1
            url = f"https://{source}.example.com/x/hostile{p}-{kind}"
            rows.append((url, fixtures.BASE_TS_US + p, _hostile_payload(kind, rng), "", "xx"))
            continue
        # Pareto-tailed document count: most pages hold one or two
        # documents' text, a few hold dozens
        k = min(int(rng.paretovariate(1.3)), SIZES["crawl_max_docs"])
        start = rng.randrange(len(texts))
        picked = [texts[(start + j) % len(texts)] for j in range(k)]
        url, ts, raw, text, lang = fixtures.build_page(
            p, " ".join(picked), langs[start], source, seed
        )
        rows.append((url, ts, raw, text, lang))
    # host-clustered files: sort by host, cut into uneven files
    rows.sort(key=lambda r: (r[0].split("/")[2], r[0]))
    table = _pages_table(rows)
    k = SIZES["crawl_files"]
    weights = [2 ** i for i in range(k)]
    cum = [0]
    for w in weights:
        cum.append(cum[-1] + w)
    _write_files(table, os.path.join(out_dir, "pages"), [n_pages * c // cum[-1] for c in cum])
    return _page_stats(table, hostile=n_hostile)


def _page_stats(table: pa.Table, hostile: int) -> dict:
    sizes = sorted(len(h) for h in table.column("html").to_pylist())
    q = statistics.quantiles(sizes, n=100)
    return {
        "docs": len(sizes),
        "bytes": sum(sizes),
        "size_p50": q[49],
        "size_p90": q[89],
        "size_p99": q[98],
        "size_max": sizes[-1],
        "hostile": hostile,
        "hostile_share": hostile / len(sizes),
        "empty": sum(1 for s in sizes if s == 0),
    }


def _doc_stats(table: pa.Table) -> dict:
    sizes = sorted(table.column("n_chars").to_pylist())
    q = statistics.quantiles(sizes, n=100)
    return {
        "docs": len(sizes),
        "bytes": sum(sizes),
        "size_p50": q[49],
        "size_p90": q[89],
        "size_p99": q[98],
        "size_max": sizes[-1],
        "hostile": 0,
        "hostile_share": 0.0,
    }


def gen_curate(seed: int, out_dir: str) -> dict:
    docs = gen_documents(seed, SIZES["curate_docs"])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    # the eval set: a few corpus docs verbatim (contaminated) plus fresh ones
    fresh = gen_documents(seed, SIZES["curate_eval_docs"], id_base=900_000, tag="eval")
    leaked = docs.slice(0, 5).set_column(
        0, "doc_id", pa.array(range(800_000, 800_005), pa.int64())
    )
    pq.write_table(pa.concat_tables([fresh, leaked]), os.path.join(out_dir, "eval.parquet"))
    return _doc_stats(docs)


def gen_stream(seed: int, out_dir: str) -> dict:
    k, m = SIZES["stream_batches"], SIZES["stream_slice_docs"]
    corpus = gen_documents(seed, k * m)
    # seeded near-copies across slices, so cross-batch pairs exist:
    # every 7th doc of slice b>0 repeats a doc of an earlier slice
    rng = _rng(seed, "stream")
    texts = corpus.column("text").to_pylist()
    for b in range(1, k):
        for j in range(0, m, 7):
            i = b * m + j
            texts[i] = texts[rng.randrange(b * m)]
    corpus = corpus.set_column(1, "text", pa.array(texts, pa.string()))
    corpus = corpus.set_column(4, "n_chars", pa.array([len(t) for t in texts], pa.int64()))
    os.makedirs(out_dir, exist_ok=True)
    for b in range(k):
        pq.write_table(
            corpus.slice(b * m, m).select(["doc_id", "text"]),
            os.path.join(out_dir, f"slice-{b:03d}.parquet"),
        )
    return _doc_stats(corpus)


GENERATORS = {
    "uniform": gen_uniform,
    "crawl": gen_crawl,
    "curate": gen_curate,
    "stream": gen_stream,
}


def ensure_inputs(kind: str, seed: int, cache_dir: str) -> tuple[str, dict]:
    """Return (input dir, input stats) for ``kind`` at ``seed``,
    generating them once per seed and sizes.  A ``_STATS.json`` written
    last marks a complete cache entry."""
    sizes = {k: v for k, v in SIZES.items() if k.startswith(kind)}
    key = hashlib.sha256(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    out_dir = os.path.join(cache_dir, f"{kind}-{seed}-{key}")
    marker = os.path.join(out_dir, "_STATS.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return out_dir, json.load(f)
    stats = GENERATORS[kind](seed, out_dir)
    stats["sizes"] = sizes
    with open(marker, "w") as f:
        json.dump(stats, f)
    return out_dir, stats
