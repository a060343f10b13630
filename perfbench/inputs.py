"""Deterministic input generators: the same seed gives the same inputs.

Nothing here imports Spark or the package, so every generator is testable
on its own and the workloads receive only what these functions return.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

COLLECTIONS = ["collection_a", "collection_b", "collection_c",
               "collection_d", "collection_e"]
MASTER = "master"

# The vocabulary of the sf0.1 ``documents`` fixture.
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def document_text(rng: random.Random) -> str:
    """One document: 1-6 sentences of 5-16 vocabulary words, each ending
    in '.', so the punctuation splitter and chunk merge both have work.
    Lengths run from about 30 to 600 characters."""
    sentences = []
    for _ in range(rng.randint(1, 6)):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(5, 16))]
        sentences.append(" ".join(words) + ".")
    return " ".join(sentences)


def documents(seed: int, prefix: str, n: int) -> list[tuple[str, str]]:
    """``n`` (doc_name, text) pairs with names ``<prefix><i>``."""
    rng = random.Random(f"docs:{seed}:{prefix}")
    return [(f"{prefix}{i:05d}", document_text(rng)) for i in range(n)]


# -- serve ---------------------------------------------------------------------

@dataclass(frozen=True)
class Request:
    kind: str               # search_score | search | list | ui | exists
    query: str = ""
    fulltext: bool = False  # query is a stored chunk's full text
    chunk_id: str = ""      # the chunk whose text is the query
    collection: str = MASTER
    doc_names: tuple[str, ...] = ()   # $in filter on doc_name, if any
    k: int = 5


# One block of twelve requests: an upload of a batch, a delete, a search for
# a chunk the upload just stored (read-after-write), then two catalog
# requests among seven more searches, so reads are 80% searches and 20%
# catalog requests.
BLOCK = ("upload", "delete", "search", "catalog", "search", "search",
         "search", "search", "catalog", "search", "search", "search")
# The untimed warm-up of the query path before the first block.
WARMUP = ("search", "catalog", "search")


class ServeMix:
    """Draws the serve session's requests. Searches and catalog requests
    are drawn from the chunks stored at that moment, which the caller
    passes in; the draws depend only on the seed and that state.

    Of every eight searches, four are ``search_score`` and four ``search``;
    half use 3-5 words of a stored chunk as keywords and half a stored
    chunk's full text; three (about 40%) target the chunk's own collection
    and one carries a ``doc_name $in`` filter that includes the chunk's
    document. Catalog requests are ``list``, ``ui`` or ``exists`` (half of
    the existence probes miss).
    """

    def __init__(self, seed: int):
        self.rng = random.Random(f"serve:{seed}")
        self._deck: list[tuple[str, bool, bool, bool]] = []

    def _next_traits(self) -> tuple[str, bool, bool, bool]:
        if not self._deck:
            rng = self.rng
            kinds = ["search_score", "search"] * 4
            fulltext = [True, False] * 4
            targeted = [True] * 3 + [False] * 5
            filtered = [True] + [False] * 7
            for deck in (kinds, fulltext, targeted, filtered):
                rng.shuffle(deck)
            self._deck = list(zip(kinds, fulltext, targeted, filtered))
        return self._deck.pop()

    def search(self, chunks: list[tuple[str, str, str, str]]) -> Request:
        """``chunks``: ``(chunk_id, doc_name, collection, content)`` of every
        stored chunk, sorted by chunk_id."""
        kind, fulltext, targeted, filtered = self._next_traits()
        chunk_id, doc_name, coll, content = self.rng.choice(chunks)
        if fulltext:
            query = content
        else:
            words = content.replace(".", "").split()
            query = " ".join(self.rng.sample(
                words, min(len(words), self.rng.randint(3, 5))))
        doc_names: tuple[str, ...] = ()
        if filtered:
            names = sorted({c[1] for c in chunks})
            doc_names = tuple(sorted({doc_name, *self.rng.sample(names, 3)}))
        return Request(kind=kind, query=query, fulltext=fulltext,
                       chunk_id=chunk_id if fulltext else "",
                       collection=coll if targeted else MASTER,
                       doc_names=doc_names)

    def catalog(self, names: list[str]) -> Request:
        kind = self.rng.choice(["list", "ui", "exists"])
        coll = self.rng.choice([MASTER, *COLLECTIONS])
        query = ""
        if kind == "exists":
            query = (self.rng.choice(names) if self.rng.random() < 0.5
                     else f"absent-{self.rng.randrange(10**6):06d}")
        return Request(kind=kind, query=query, collection=coll)


# -- ingest --------------------------------------------------------------------

@dataclass
class IngestRound:
    collection: str
    docs: list[tuple[str, str]]
    expected: dict[str, str]         # doc_name -> success | skipped
    delete_name: str                 # an earlier live document
    probe_name: str                  # a new document whose text is the query
    probe_text: str


# Documents per upload: an assumed upload-batch size, not a measured one.
BATCH = 25
# Share of each batch whose names are already stored.
DUP_SHARE = 0.2


@dataclass
class IngestPlan:
    """Rounds generated on demand; the bookkeeping follows the plan, so the
    workload can check every status the engine returns against it."""
    seed: int
    live: dict[str, str] = field(default_factory=dict)   # name -> text
    deleted: list[str] = field(default_factory=list)
    rounds: int = 0

    def next_round(self) -> IngestRound:
        rng = random.Random(f"ingest:{self.seed}:{self.rounds}")
        coll = COLLECTIONS[self.rounds % len(COLLECTIONS)]
        n_dup = min(len(self.live), round(BATCH * DUP_SHARE))
        dups = rng.sample(sorted(self.live), n_dup)
        fresh = [(f"r{self.rounds:04d}-{i:02d}", document_text(rng))
                 for i in range(BATCH - n_dup)]
        docs = fresh + [(name, document_text(rng)) for name in dups]
        rng.shuffle(docs)
        expected = {name: "success" for name, _ in fresh}
        expected.update({name: "skipped" for name in dups})
        # the probe's single chunk is its whole text: one short sentence
        short = [(n, t) for n, t in fresh if t.count(".") == 1]
        probe_name, probe_text = short[0] if short else fresh[0]
        if not short:
            probe_text = probe_text.split(".")[0] + "."
            fresh[0] = (probe_name, probe_text)
            docs = [(n, probe_text if n == probe_name else t)
                    for n, t in docs]
        self.live.update(fresh)
        delete_name = rng.choice(sorted(
            n for n in self.live if n != probe_name))
        del self.live[delete_name]
        self.deleted.append(delete_name)
        self.rounds += 1
        return IngestRound(coll, docs, expected, delete_name, probe_name,
                           probe_text)


# -- pipeline ------------------------------------------------------------------

def pipeline_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten fixture tables the registry pillars read, in the
    schema of the repository's test fixture (TESTDATA.md), at its sf0.01
    row counts; returns row counts.

    Values are uniform draws over the fixture's domains (keys, dates,
    flags, words), so the pillars' joins and filters select as they do on
    the fixture while every seed gives different rows.
    """
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line = 1500, 100, 2000, 15000, 60000
    n_events, n_docs, n_emb = 10000, 500, 500

    def days(n, lo="1995-01-01", span=2405):
        base = np.datetime64(lo, "us")
        return base + rng.integers(0, span, n) * np.timedelta64(86400, "s")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), i64),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(["red", "blue", "hot", "new", "large", "small", "old",
                      "green"], n_part),
                pick(["bolt", "ring", "rod", "plate", "anvil", "nut",
                      "gear", "pipe"], n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10,
                                      2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": days(n_ord),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": days(n_line, span=2499)}),
        "events": pa.table({
            "event_id": pa.array(range(n_events), i64),
            "ts": np.sort(np.datetime64("2024-01-01", "us")
                          + rng.integers(0, 30 * 86400 * 10**6, n_events)
                          * np.timedelta64(1, "us")),
            "user_id": pa.array(rng.integers(0, 150, n_events), i64),
            "event_type": pick(["click", "error", "purchase", "signup",
                                "view"], n_events),
            "value": money(0.01, 490.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100,
                                                            n_events)]}),
    }
    text_rng = random.Random(f"tables:{seed}")
    texts = [" ".join(text_rng.choice(VOCAB)
                      for _ in range(text_rng.randint(8, 90)))
             for _ in range(n_docs)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), i64),
        "text": texts,
        "lang": pick(["en", "en", "en", "zh", "es", "de", "fr"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
