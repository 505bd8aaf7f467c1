"""Seeded input generators for the benchmark workloads.

Everything here is pure Python plus pyarrow: no Spark, no wall clock, no
dependence on ``entity_matchers_spark.corpus``. The same ``seed`` gives the
same rows, and ``write_parquet`` writes them as byte-identical files, so a
workload only changes when this file does. Each generator also writes the
planted truth next to its inputs.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A fixed vocabulary that never moves with a seed: 1000 words of 4-9 letters.
_VOCAB_RNG = random.Random(0)
VOCAB = [
    "".join(_VOCAB_RNG.choices("abcdefghijklmnopqrstuvwxyz", k=_VOCAB_RNG.randint(4, 9)))
    for _ in range(1000)
]
DOMAINS = [f"site{i}.example.org" for i in range(12)]
LANGS = ["en", "en", "en", "en", "en", "en", "fr", "de", "ja"]
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
MAX_VARIANTS = 8  # page_id = entity_id * MAX_VARIANTS + variant

# Sizes for a 4-core host. At 1,300 entities scoring and blocking do most of an
# er_fresh call's work, and its runs still fit the benchmark's time budget.
FRESH_ENTITIES = 1300
GRAPH_MATCH_EDGES = 204_000  # above connected_components' driver_max_edges
ALIGN_SMALL_GROUPS = 1500  # at 500, calls varied by up to 20% within a run
ALIGN_LARGE_GROUPS = 2
ALIGN_LARGE_PAIRS = 300  # 600 nodes each: above MWGM_DENSE_MAX
ALIGN_THRESHOLD = 0.5
ALIGN_TOPK = 5


def write_parquet(rows: dict[str, list], schema: pa.Schema, path: str) -> int:
    """Write one column dict as a single-file parquet table at ``path``
    (a directory with ``part-00000.parquet`` and a ``_SUCCESS`` marker, the
    layout ``CheckpointedPipeline`` treats as committed). Returns bytes."""
    os.makedirs(path, exist_ok=True)
    arrays = [pa.array(rows[f.name]).cast(f.type) for f in schema]
    table = pa.Table.from_arrays(arrays, schema=schema)
    part = os.path.join(path, "part-00000.parquet")
    pq.write_table(table, part, compression="snappy")
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return os.path.getsize(part)


def _escape(t: str) -> str:
    return t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def render_html(text: str, noise: str) -> bytes:
    """The page template that ``extraction.extract_text_bytes`` inverts."""
    return (
        f'<html><head><title>{_escape(text[:40])}</title></head>'
        f'<body data-noise="{noise}"><nav>skip {noise}</nav>'
        f'<p class="main">{_escape(text)}</p>'
        f'<div class="footer">generated {noise}</div></body></html>'
    ).encode("utf-8")


PAGES_SCHEMA = pa.schema(
    [
        ("page_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("lang", pa.string()),
    ]
)
PAGE_TRUTH_SCHEMA = pa.schema([("page_id", pa.int64()), ("entity_id", pa.int64())])


# Variant counts cycle through this pattern (30% singletons, 2.8 pages per
# entity on average) and domains follow a fixed low-discrepancy sequence, so
# page count and domain block sizes do not move with the seed.
VARIANTS = (1, 2, 1, 3, 4, 1, 2, 5, 6, 3)


def _domain(page_index: int) -> str:
    u = (page_index * 0.6180339887498949) % 1.0
    return DOMAINS[int(u * u * len(DOMAINS))]


def fresh_pages(seed: int, num_entities: int) -> tuple[dict, dict]:
    """(pages, truth) column dicts: web pages of planted entities.

    Each entity has 1-6 pages; every page after the first is a perturbed
    variant (one token dropped, two swapped, 0-2 replaced, sometimes an
    upper-cased name). Domains are skewed over 12 sites, so the largest
    domain blocks exceed the blocking cap."""
    rng = random.Random(seed)
    pages = {k: [] for k in PAGES_SCHEMA.names}
    truth = {"page_id": [], "entity_id": []}
    for ent in range(num_entities):
        slug = f"ent-{rng.getrandbits(32):08x}"
        name = [slug] + rng.choices(VOCAB, k=2)
        body = rng.choices(VOCAB, k=rng.randint(12, 20))
        lang = rng.choice(LANGS)
        for var in range(VARIANTS[ent % len(VARIANTS)]):
            words, toks = list(name), list(body)
            if var > 0:
                del toks[rng.randrange(len(toks))]
                i, j = rng.randrange(len(toks)), rng.randrange(len(toks))
                toks[i], toks[j] = toks[j], toks[i]
                for _ in range(rng.randint(0, 2)):
                    toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
                if rng.random() < 1 / 3:
                    words = [w.upper() for w in words]
            text = " ".join(words + toks)
            page_id = ent * MAX_VARIANTS + var
            pages["page_id"].append(page_id)
            pages["url"].append(f"https://{_domain(len(truth['page_id']))}/{slug}-v{var}")
            pages["warc_ts"].append(EPOCH + timedelta(seconds=17 * page_id))
            pages["html"].append(render_html(text, f"{rng.getrandbits(24):06x}"))
            pages["lang"].append(lang)
            truth["page_id"].append(page_id)
            truth["entity_id"].append(ent)
    return pages, truth


def write_fresh(root: str, seed: int) -> dict:
    pages, truth = fresh_pages(seed, FRESH_ENTITIES)
    nbytes = write_parquet(pages, PAGES_SCHEMA, f"{root}/pages")
    nbytes += write_parquet(truth, PAGE_TRUTH_SCHEMA, f"{root}/truth")
    return {"pages": len(pages["page_id"]), "bytes": nbytes}


EDGES_SCHEMA = pa.schema([("id_a", pa.int64()), ("id_b", pa.int64())])


def chain_graph(seed: int, match_edges: int) -> tuple[dict, int]:
    """(edges, component count) of a match graph made of chains of 8-24
    nodes (seeded lengths), ids consecutive along each chain.

    Consecutive ids keep each chain's minimum at one end. With ids permuted
    instead, connected_components took 214 s (134 jobs) on 204k edges on
    local[4], against ~10 s here: label propagation then has to cross many
    local minima."""
    rs = np.random.RandomState(seed)
    lengths = rs.randint(8, 25, size=2 * match_edges // 15 + 1)
    lengths = lengths[: int(np.searchsorted(np.cumsum(lengths - 1), match_edges)) + 1]
    heads = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    a = np.concatenate([np.arange(h, h + n - 1) for h, n in zip(heads, lengths)])
    return {"id_a": a, "id_b": a + 1}, len(lengths)


def write_graph(root: str, seed: int) -> dict:
    edges, components = chain_graph(seed, GRAPH_MATCH_EDGES)
    nbytes = write_parquet(edges, EDGES_SCHEMA, f"{root}/edges")
    return {"components": components, "edges": len(edges["id_a"]), "bytes": nbytes}


CANDIDATES_SCHEMA = pa.schema(
    [("id_a", pa.int64()), ("id_b", pa.int64()), ("score", pa.float64())]
)
ALIGN_TRUTH_SCHEMA = pa.schema([("id_a", pa.int64()), ("id_b", pa.int64())])


def align_tables(seed: int, small_groups: int) -> dict:
    """Bipartite candidate table of two knowledge graphs, one planted true
    partner per left entity.

    Small groups hold 1, 2 or 3 true pairs in turn, plus distractor edges
    that sometimes outscore the truth; ``ALIGN_LARGE_GROUPS`` components of
    ``ALIGN_LARGE_PAIRS`` pairs are chained into one component each, larger
    than ``MWGM_DENSE_MAX`` nodes, so the sparse Hungarian runs. Edges below
    ``ALIGN_THRESHOLD`` are dropped by the threshold stage."""
    rng = random.Random(seed)
    cand = {"id_a": [], "id_b": [], "score": []}
    truth = {"id_a": [], "id_b": []}
    nxt = 0

    def edge(a: int, b: int, s: float) -> None:
        cand["id_a"].append(a)
        cand["id_b"].append(b)
        cand["score"].append(round(s, 9))

    def group(n: int, chained: bool) -> None:
        nonlocal nxt
        ids = list(range(nxt, nxt + n))
        nxt += n
        partner = {a: 1_000_000_000 + a for a in ids}
        for a in ids:
            edge(a, partner[a], rng.uniform(0.6, 1.0))
            truth["id_a"].append(a)
            truth["id_b"].append(partner[a])
            edge(a, 2_000_000_000 + a, rng.uniform(0.1, ALIGN_THRESHOLD - 0.01))
        others = list(zip(ids, ids[1:])) if chained else [
            (a, b) for a in ids for b in ids if a != b and rng.random() < 0.5
        ]
        for a, b in others:
            edge(a, partner[b], rng.uniform(0.5, 0.9))

    for g in range(small_groups):
        group(1 + g % 3, chained=False)
    for _ in range(ALIGN_LARGE_GROUPS):
        group(ALIGN_LARGE_PAIRS, chained=True)
    return {"candidates": cand, "truth": truth}


def write_align(root: str, seed: int) -> dict:
    t = align_tables(seed, ALIGN_SMALL_GROUPS)
    nbytes = write_parquet(t["candidates"], CANDIDATES_SCHEMA, f"{root}/candidates")
    nbytes += write_parquet(t["truth"], ALIGN_TRUTH_SCHEMA, f"{root}/truth")
    return {
        "edges": len(t["candidates"]["id_a"]),
        "true_pairs": len(t["truth"]["id_a"]),
        "bytes": nbytes,
    }


WRITERS = {"er_fresh": write_fresh, "er_align": write_align, "graph": write_graph}
