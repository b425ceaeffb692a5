"""Workload definitions: which ops run, in which order, with which
parameters.  Pure Python (no Spark), so the op lists can be generated and
tested without a session.

A workload's ops come in *rounds*; every round holds each op kind of the
client once (the writer: the same blocks in the same order every round,
see ``_write_rounds``).  The order of the kinds does not depend on the
seed: the first round (run.py's cold pass) takes them as listed, a later
round ``i`` in an order shuffled by ``i`` and the client.  Every seed then
runs the same sequence of kinds and draws only their parameters, so which
op meets the cold JVM and the engine's prewarm threads, which ops of
concurrent clients overlap, the share of each kind and what a percentile
is taken over all stay the same from seed to seed.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass

SF = 0.01  # scale factor of the fixtures a run reads (run.py --sf overrides it)
# the fixed seed-42 tables under fixtures/sf<sf>/ (copies of the repository's
# test fixtures; never regenerated).  Keys are dense and start at 0.
SIZES = {
    0.01: {"customers": 1500, "orders": 15000, "vectors": 500},
    0.001: {"customers": 150, "orders": 1500, "vectors": 500},
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
# the content words of ``documents.text``; BM25 query terms are drawn from it
VOCAB = [
    "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "value", "vector", "window",
]


def sizes(sf: float) -> dict:
    """Key domains the generators draw from, for the fixtures of ``sf``."""
    return SIZES[sf]


@dataclass(frozen=True)
class Op:
    kind: str
    args: tuple  # ((name, value), ...) -- hashable, printable
    write: bool = False

    @property
    def a(self) -> dict:
        return dict(self.args)

    @property
    def key(self) -> str:
        """Identity of the statement: two ops with the same key send the
        same text (or call) to the engine."""
        return f"{self.kind}{self.args!r}"


def _op(kind: str, write: bool = False, **args) -> Op:
    return Op(kind, tuple(sorted(args.items())), write)


@dataclass(frozen=True)
class Spec:
    readers: int  # read clients; interactive adds one writer client
    writer: bool

    @property
    def clients(self) -> int:
        return self.readers + self.writer


# why each workload exists: README.md
SPECS = {
    "interactive": Spec(2, True),
    "pipelines": Spec(1, False),
}

INTERACTIVE_KINDS = (
    "sql_scan", "sql_in", "sql_link", "sql_match", "cypher", "gremlin",
    "mongo", "graphql", "traverse",
)
PIPELINE_KINDS = (
    "tpch_q1", "match_3hop", "bm25", "minhash", "ngram", "knn",
    "time_bucket", "sessionize", "pagerank",
)
# threshold pools for the two n-gram join code paths (prefix filter on
# at threshold >= 0.5); rounds alternate between them
NGRAM_LOW = [round(0.20 + 0.01 * i, 2) for i in range(30)]
NGRAM_HIGH = [round(0.50 + 0.01 * i, 2) for i in range(31)]
ZIPF_S = 1.1


class _Zipf:
    """Zipf(s) over ``values`` in a seed-shuffled rank order."""

    def __init__(self, values, seed: str, s: float = ZIPF_S) -> None:
        self.values = list(values)
        random.Random(seed).shuffle(self.values)
        self.cum = list(itertools.accumulate(
            1.0 / (i + 1) ** s for i in range(len(self.values))
        ))

    def draw(self, rng: random.Random):
        return rng.choices(self.values, cum_weights=self.cum)[0]


def _interactive_rounds(seed: int, client: int, dom: dict):
    rng = random.Random(f"interactive/{seed}/{client}")
    # rank orders are shared by both clients, so hot keys are hot for both
    cust = _Zipf(range(dom["customers"]), f"cust/{seed}")
    okeys = _Zipf(range(0, dom["orders"] - 25, 25), f"okey/{seed}")
    price = _Zipf(range(150_000, 350_000, 5_000), f"price/{seed}")
    bal = _Zipf(range(-1000, 9000, 500), f"bal/{seed}")
    make = {
        "sql_scan": lambda: _op("sql_scan", lo=okeys.draw(rng),
                                q=rng.choice((10, 20, 30, 40))),
        "sql_in": lambda: _op("sql_in", p=price.draw(rng)),
        "sql_link": lambda: _op("sql_link", k=cust.draw(rng), hops=2 + alt),
        "sql_match": lambda: _op("sql_match", k=cust.draw(rng)),
        "cypher": lambda: _op("cypher", k=cust.draw(rng),
                              p=rng.choice((0, 50_000, 100_000))),
        "gremlin": lambda: _op("gremlin", k=cust.draw(rng)),
        "mongo": lambda: _op("mongo", seg=rng.choice(SEGMENTS),
                             lo=bal.draw(rng)),
        "graphql": lambda: _op("graphql", k=cust.draw(rng)),
        "traverse": lambda: _op("traverse", k=cust.draw(rng), depth=2 + alt),
    }
    for i in itertools.count():
        # LINK hops and traverse depth alternate by round and client, so
        # any two consecutive rounds of the two readers hold each twice
        alt = (i + client) % 2
        yield [make[k]() for k in _order("interactive", INTERACTIVE_KINDS, i, client)]


def _order(workload: str, kinds, i: int, client: int = 0) -> list:
    """The kinds of round ``i`` of a client, in an order that does not
    depend on the seed.  In the first round the second reader starts half
    a round in, so the readers do not run the same kind at once."""
    kinds = list(kinds)
    if i == 0:
        r = client * len(kinds) // 2
        return kinds[r:] + kinds[:r]
    random.Random(f"order/{workload}/{client}/{i}").shuffle(kinds)
    return kinds


def _unique(rng: random.Random, pool) -> list:
    """The pool in a seed-shuffled order: drawing from it front to back
    never repeats a value within a run."""
    pool = list(pool)
    rng.shuffle(pool)
    return pool


def _pipeline_rounds(seed: int, dom: dict):
    rng = random.Random(f"pipelines/{seed}")
    days = _unique(rng, range(6 * 365))
    sizes_ = _unique(rng, [(lo, w) for lo in range(5, 45) for w in range(2, 8)])
    terms = _unique(rng, [tuple(sorted(t)) for t in itertools.combinations(VOCAB, 3)])
    minhash = _unique(rng, [round(0.5 + 0.005 * i, 3) for i in range(91)])
    low, high = _unique(rng, NGRAM_LOW), _unique(rng, NGRAM_HIGH)
    vecs = _unique(rng, range(dom["vectors"]))
    widths = _unique(rng, range(30, 721))
    gaps = _unique(rng, range(5, 241))
    pr = _unique(rng, [(m, r) for m in (13, 17, 19, 23) for r in range(m)])
    for i in itertools.count():
        ops = {
            "tpch_q1": _op("tpch_q1", day=days[i]),
            "match_3hop": _op("match_3hop", lo=sizes_[i][0],
                              hi=sizes_[i][0] + sizes_[i][1]),
            "bm25": _op("bm25", terms=" ".join(terms[i])),
            "minhash": _op("minhash", t=minhash[i]),
            # even rounds take the non-prefix path, odd rounds the prefix path
            "ngram": _op("ngram", t=(low if i % 2 == 0 else high)[i // 2]),
            "knn": _op("knn", vec=vecs[i]),
            "time_bucket": _op("time_bucket", minutes=widths[i]),
            "sessionize": _op("sessionize", gap_min=gaps[i]),
            "pagerank": _op("pagerank", iters=2, mod=pr[i][0], rem=pr[i][1]),
        }
        yield [ops[k] for k in _order("pipelines", PIPELINE_KINDS, i)]


# writer round: the same three blocks in the same order every round, each
# some writes to one family and then a read of what they changed:
#   doc: INSERT and DELETE (seeded order), then a read of PbOrder
#   kv:  set and incr (seeded order), then a get of the first key
#   mv:  UPDATE, REFRESH of the incremental MV, then a read of the MV
# = 6 writes + 3 reads per round.  The seed draws keys, values and the
# order within a block; the kinds and their order stay fixed, because an
# INSERT, an UPDATE and a REFRESH cost different amounts and each leaves
# the state different, so a drawn mix of them would move the timings from
# seed to seed.  There is no Cypher CREATE block: a CREATE on a live
# vertex type that runs while the readers use the graph can lose the new
# vertex (a later MATCH counts one node fewer); see README.md.
SCRATCH_SLICE = 200  # PbOrder starts as orders with o_orderkey < this
KV_KEYS = [f"k{i}" for i in range(20)]


def _write_rounds(seed: int, dom: dict):
    rng = random.Random(f"writer/{seed}")
    live = list(range(SCRATCH_SLICE))  # simulated PbOrder keys
    next_key = itertools.count(10_000_000)

    def price() -> float:
        return round(rng.uniform(100, 400_000), 2)

    def insert() -> Op:
        k = next(next_key)
        live.append(k)
        return _op("doc_insert", True, k=k, cust=rng.randrange(dom["customers"]),
                   price=price(), status=rng.choice("OFP"))

    def delete() -> Op:
        return _op("doc_delete", True, k=live.pop(rng.randrange(len(live))))

    while True:
        doc = [insert(), delete()]
        kv = [_op("kv_set", True, key=rng.choice(KV_KEYS), value=rng.randrange(1000)),
              _op("kv_incr", True, key=rng.choice(KV_KEYS), by=rng.randint(1, 5))]
        rng.shuffle(doc)
        rng.shuffle(kv)
        yield [
            *doc, _op("doc_read"),
            *kv, _op("kv_get", key=kv[0].a["key"]),
            _op("doc_update", True, k=rng.choice(live), price=price()),
            _op("mv_refresh", True), _op("mv_read"),
        ]


def rounds(workload: str, seed: int, client: int, dom: dict):
    """Endless iterator of rounds (lists of Op) for one client; the
    writer is the client after the readers."""
    spec = SPECS[workload]
    if spec.writer and client == spec.readers:
        return _write_rounds(seed, dom)
    if workload == "interactive":
        return _interactive_rounds(seed, client, dom)
    if workload == "pipelines":
        return _pipeline_rounds(seed, dom)
    raise KeyError(workload)


def op_list(workload: str, seed: int, n_rounds: int, sf: float | None = None) -> list:
    """The first ``n_rounds`` rounds of every client, flattened."""
    dom = sizes(sf if sf is not None else SF)
    out = []
    for c in range(SPECS[workload].clients):
        it = rounds(workload, seed, c, dom)
        for _ in range(n_rounds):
            out += [(c, op) for op in next(it)]
    return out

