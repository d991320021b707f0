"""Seeded benchmark inputs and their oracle answers.

Everything here is the benchmark's own work, done before the program starts:
the corpus comes from ``corpus.generator`` at the seed, the refresh snapshot
is derived from it with a seeded 1% change set, and the expected edges and
nodes come from ``corpus.oracle.run_oracle``. The program only ever sees the
parquet files ``write_inputs`` leaves behind.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field
from multiprocessing import get_context

import pyarrow as pa
import pyarrow.parquet as pq

from augmented_codebase_indexer_spark import corpus as corpus_pkg
from augmented_codebase_indexer_spark.corpus.generator import generate_corpus, write_corpus
from augmented_codebase_indexer_spark.corpus.oracle import run_oracle

N_ENTITIES = 2000  # ~4.5k distinct aliases: build_matcher picks Aho-Corasick
CHANGED_SHARE = 0.01
ORACLE_PROCS = 4

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass
class Expected:
    """Oracle answer for one snapshot: edge keys and node rows."""

    edges: list[tuple] = field(default_factory=list)    # sorted (subj, pred, obj, url, pos)
    nodes: dict[str, tuple] = field(default_factory=dict)  # node_id → row tuple


@dataclass
class Inputs:
    pages: list[dict]
    gazetteer: list[dict]
    paths: dict[str, str]          # pages / gazetteer / pages_b
    expected: Expected             # snapshot A (the corpus)
    expected_b: Expected | None    # snapshot B (kg_live only)


def _oracle_chunk(args):
    pages, gazetteer = args
    res = run_oracle(pages, gazetteer)
    return res.triples, res.nodes


def oracle(pages: list[dict], gazetteer: list[dict], procs: int = ORACLE_PROCS) -> Expected:
    """``run_oracle`` over page chunks in ``procs`` forked processes.

    The pool forks rather than spawns: a spawning pool leaves a
    ``multiprocessing`` resource-tracker process behind that only exits
    after this one does. Forking is safe here because it happens before
    the Spark session (and its threads) exists.

    Triples are per page, so the chunk results union exactly; node rows
    merge by summing ``mention_count`` and keeping the smallest
    ``first_url``, which is how ``run_oracle`` builds them."""
    step = -(-len(pages) // procs)
    chunks = [(pages[i:i + step], gazetteer) for i in range(0, len(pages), step)]
    triples: set = set()
    nodes: dict[str, dict] = {}
    if len(chunks) == 1:
        results = [_oracle_chunk(chunks[0])]
    else:
        with ProcessPoolExecutor(len(chunks), mp_context=get_context("fork")) as pool:
            results = list(pool.map(_oracle_chunk, chunks))
    for t, n in results:
        triples |= t
        for nid, row in n.items():
            have = nodes.get(nid)
            if have is None:
                nodes[nid] = dict(row)
            else:
                have["mention_count"] += row["mention_count"]
                have["first_url"] = min(have["first_url"], row["first_url"])
    return Expected(sorted(triples), {
        nid: (nid, r["canonical_name"], r["entity_type"], r["first_url"], r["mention_count"])
        for nid, r in nodes.items()
    })


def snapshot_b(pages: list[dict], seed: int) -> tuple[list[dict], list[dict], set[str]]:
    """A snapshot differing from ``pages`` on 1% of urls.

    Each changed url is modified (takes another page's html), deleted, or
    replaced by a new url carrying another page's html; the mix is drawn
    from the seed. Returns (snapshot, pages whose triples must be
    recomputed, urls whose old triples disappear)."""
    rng = random.Random(seed * 7919 + 17)
    n = len(pages)
    chosen = rng.sample(range(n), max(3, int(n * CHANGED_SHARE)))
    out = {p["url"]: p for p in pages}
    fresh, gone = [], set()
    for k, i in enumerate(chosen):
        url = pages[i]["url"]
        donor = pages[rng.randrange(n)]
        op = rng.choice(("modify", "delete", "add"))
        if op == "modify" and donor["html"] != pages[i]["html"]:
            out[url] = dict(pages[i], html=donor["html"])
            fresh.append(out[url])
            gone.add(url)
        elif op == "delete":
            del out[url]
            gone.add(url)
        else:
            new = dict(donor, url=f"https://site-new.example/s{seed}-{k:06d}")
            out[new["url"]] = new
            fresh.append(new)
    return list(out.values()), fresh, gone


def _source_digest() -> str:
    """Digest of the generator, oracle and the functions they call."""
    h = hashlib.sha256()
    for sub in ("corpus", "functions"):
        d = os.path.join(os.path.dirname(corpus_pkg.__file__), "..", sub)
        for name in sorted(os.listdir(d)):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def cached_oracle(cache_dir: str, seed: int, data) -> Expected:
    """``oracle`` of the seed's corpus, kept as JSON under ``cache_dir``
    keyed by seed, size and the source digest, since every workload and
    every repeat at one seed needs the same answer."""
    key = f"{seed}-{len(data.pages)}-{N_ENTITIES}-{_source_digest()}"
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    if os.path.isfile(path):
        with open(path) as f:
            raw = json.load(f)
        return Expected([tuple(e) for e in raw["edges"]],
                        {k: tuple(v) for k, v in raw["nodes"].items()})
    expected = oracle(data.pages, data.gazetteer)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"edges": expected.edges, "nodes": expected.nodes}, f)
    os.replace(tmp, path)
    return expected


def write_inputs(root: str, cache_dir: str, seed: int, n_pages: int, refresh: bool) -> Inputs:
    data = generate_corpus(n_pages=n_pages, n_entities=N_ENTITIES, seed=seed)
    expected = cached_oracle(cache_dir, seed, data)  # forks: before any Arrow I/O
    paths = write_corpus(data, os.path.join(root, "corpus"))
    if not refresh:
        return Inputs(data.pages, data.gazetteer, paths, expected, None)
    pages_b, fresh, gone = snapshot_b(data.pages, seed)
    paths["pages_b"] = os.path.join(root, "corpus", "pages_b.parquet")
    pq.write_table(pa.Table.from_pylist(pages_b, schema=PAGES_SCHEMA), paths["pages_b"])
    delta = oracle(fresh, data.gazetteer, procs=1)
    edges_b = sorted({e for e in expected.edges if e[3] not in gone} | set(delta.edges))
    return Inputs(data.pages, data.gazetteer, paths, expected,
                  Expected(edges_b))
