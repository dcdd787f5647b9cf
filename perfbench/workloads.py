"""The three closed-loop workloads: how each sends a request through the
engine's public entry points and how each checks the reply.

A workload exposes
- `first_kind` and `kinds`: the fixed cold first request and the kinds a
  round of requests cycles through (a round holds each kind once);
- `warmup_kinds`: the requests after the first that still count as set-up,
  and `round_len`: the measured phase ends on a whole number of these;
- `request(kind, span)`: one request, materialised the way a caller gets it;
- `check(kind, reply)`: (ok, message), run outside the timed window;
- `input_rows(kind)`, `input_bytes(kind)`, `output_bytes(kind, reply)`;
- `layer_counts()`: workload-specific per-layer counters for the traced run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from contextlib import nullcontext

import gen


def no_span(name: str, layer: str):
    return nullcontext()


# --------------------------------------------------------------------------
# etl_refresh
# --------------------------------------------------------------------------


class EtlRefresh:
    """Full refreshes through `api.handle_etl_start`: domclick, yandex and
    avito live, cian skipped, snapshot dates rotating by explicit date."""

    round_len = len(gen.ETL_DATES)
    warmup_kinds = [gen.ETL_WARM_DATE] * 2  # see gen.ETL_WARM_DATE

    def __init__(self, work: str, seed: int, inputs: str, meta: dict):
        from real_value_etl_spark.plans.pipeline import PipelineConfig

        self.spark = None  # attached once the session is up
        self.meta = meta["etl"]
        self.sink = os.path.join(work, "etl_sink")
        self.config = PipelineConfig(data_dir=inputs, output_path=self.sink)
        offset = seed % len(gen.ETL_DATES)
        self.kinds = gen.ETL_DATES[offset:] + gen.ETL_DATES[:offset]
        self.first_kind = self.kinds[0]
        self.hashes: dict[str, str] = {}

    def properties(self) -> dict:
        return gen.etl_properties(self.meta)

    def request(self, day: str, span=no_span):
        from real_value_etl_spark import api

        body = {"domclick": day, "yandex": day, "cian": "skip", "avito": day}
        return api.handle_etl_start(self.spark, self.config, body)

    def _parts(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.sink, "*.parquet")))

    def check(self, day: str, reply) -> tuple[bool, str]:
        import duckdb
        import pyarrow.parquet as pq
        from real_value_etl_spark.schema import UNIFIED_SCHEMA

        if reply.get("status") != "success":
            return False, f"status {reply}"
        states = {p: s["status"] for p, s in reply["platforms"].items()}
        if states != {"domclick": "ok", "yandex": "ok", "cian": "skipped", "avito": "ok"}:
            return False, f"platform statuses {states}"
        parts = self._parts()
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        expected = self.meta["dates"][day]["expected_rows"]
        if rows != expected:
            return False, f"{day}: {rows} rows written, keep-first expects {expected}"
        schema = self.spark.read.parquet(self.sink).schema
        got = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        want = [(f.name, f.dataType.simpleString()) for f in UNIFIED_SCHEMA.fields]
        if got != want:
            return False, f"schema differs from UNIFIED_SCHEMA: {got}"
        # order-insensitive content hash; created_at is the load time
        cols = ", ".join(f.name for f in UNIFIED_SCHEMA.fields if f.name != "created_at")
        con = duckdb.connect()
        try:
            digest = con.execute(
                f"SELECT CAST(sum(hash({cols})) AS VARCHAR) FROM read_parquet(?)", [parts]
            ).fetchone()[0]
        finally:
            con.close()
        if self.hashes.setdefault(day, digest) != digest:
            return False, f"{day}: content hash changed between refreshes"
        return True, "ok"

    def input_rows(self, day: str) -> int:
        return self.meta["dates"][day]["input_rows"]

    def input_bytes(self, day: str) -> int:
        return self.meta["dates"][day]["input_bytes"]

    def output_bytes(self, day: str, reply) -> int:
        return sum(os.path.getsize(p) for p in self._parts())

    def layer_counts(self) -> dict[str, float]:
        return {"sinks.writers.files_written": float(len(self._parts()))}


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_local_supplier": ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    "q6_forecast_revenue": ("lineitem",),
    "q17_small_quantity": ("lineitem", "part"),
    "q_window_order_rank": ("orders",),
    "q_rollup_returnflag": ("lineitem",),
    "q_top_customers": ("customer", "orders"),
}
REPLY_LIMIT = 1000  # handle_run_query's default


class _ReplyFrame:
    """A complete API reply, shaped for oracle_compare.compare()."""

    def __init__(self, reply: dict):
        self.reply = reply

    def toPandas(self):
        import pandas as pd

        return pd.DataFrame(self.reply["rows"], columns=[f["name"] for f in self.reply["schema"]])


class QueryMix:
    """Registry queries through `api.handle_run_query`, seeded shuffled
    rounds; each distinct query is compared once per run with its oracle."""

    round_len = len(QUERY_TABLES)

    def __init__(self, work: str, seed: int, inputs: str, meta: dict):
        import random

        import duckdb
        from real_value_etl_spark.queries import all_queries  # noqa: F401
        from real_value_etl_spark.queries.registry import REGISTRY

        self.spark = None
        self.inputs = inputs
        self.meta = meta["tpch"]
        self.specs = {q: REGISTRY[q] for q in QUERY_TABLES}
        self.first_kind = "q1_pricing_summary"
        self.kinds = list(QUERY_TABLES)
        random.Random(seed).shuffle(self.kinds)
        self.warmup_kinds = [k for k in self.kinds if k != self.first_kind]
        self.con = duckdb.connect()
        for t in gen.TPCH_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')"
            )
        self.oracle_rows: dict[str, int] = {}
        self.oracle_checked: set[str] = set()

    def properties(self) -> dict:
        return {"table_rows": self.meta["rows"]}

    def request(self, name: str, span=no_span):
        from real_value_etl_spark import api

        return api.handle_run_query(self.spark, name, self.inputs)

    def check(self, name: str, reply) -> tuple[bool, str]:
        from tests.oracle_compare import compare

        if reply.get("status") != "success":
            return False, f"{name}: {reply.get('error', reply.get('status'))}"
        sql = self.specs[name].oracle
        if name not in self.oracle_rows:
            self.oracle_rows[name] = self.con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        want = min(REPLY_LIMIT, self.oracle_rows[name])
        if reply["n_rows"] != want:
            return False, f"{name}: reply has {reply['n_rows']} rows, oracle {want}"
        if name in self.oracle_checked:
            return True, "ok"
        self.oracle_checked.add(name)
        if self.oracle_rows[name] <= REPLY_LIMIT:
            ok, msg = compare(_ReplyFrame(reply), self.con, sql)
        else:  # truncated reply: compare the full result once
            ok, msg = compare(self.specs[name].fn(self.spark, self.inputs), self.con, sql)
        return ok, f"{name}: {msg}"

    def input_rows(self, name: str) -> int:
        return sum(self.meta["rows"][t] for t in QUERY_TABLES[name])

    def input_bytes(self, name: str) -> int:
        return sum(self.meta["bytes"][t] for t in QUERY_TABLES[name])

    def output_bytes(self, name: str, reply) -> int:
        return len(json.dumps(reply["rows"], default=str))

    def layer_counts(self) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
# llm_corpus
# --------------------------------------------------------------------------

THRESHOLD = 0.5
TOPK = 10
QUERIES_PER_REQUEST = 16
CHECKED_QUERIES = 4  # top-k queries re-ranked exactly per request


def _minhash_bands(shingles) -> set[tuple[int, int, int]]:
    """The (band, k0, k1) LSH keys operators.dedup derives for one doc."""
    from real_value_etl_spark.functions.text import (
        LSH_BANDS, LSH_ROWS, MINHASH_A, MINHASH_B, MINHASH_K, MINHASH_P)

    hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
    sig = [min((MINHASH_A[i] * h + MINHASH_B[i]) % MINHASH_P for h in hs)
           for i in range(MINHASH_K)]
    return {(b, *sig[b * LSH_ROWS:(b + 1) * LSH_ROWS]) for b in range(LSH_BANDS)}


class LlmCorpus:
    """Near-duplicate detection and exact top-k over a tiled corpus; requests
    rotate among MinHash-LSH pairs, prefix-filtered Jaccard pairs and
    brute-force top-k."""

    round_len = 3

    def __init__(self, work: str, seed: int, inputs: str, meta: dict):
        import random

        import numpy as np
        import pyarrow.parquet as pq

        self.spark = None
        self.meta = meta["llm"]
        self.docs_path = os.path.join(inputs, "documents.parquet")
        self.emb_path = os.path.join(inputs, "embeddings.parquet")
        self.first_kind = "minhash_lsh_pairs"
        self.kinds = ["minhash_lsh_pairs", "ngram_jaccard_pairs_prefix", "brute_force_topk"]
        random.Random(seed).shuffle(self.kinds)
        self.warmup_kinds = [k for k in self.kinds if k != self.first_kind]
        self.rng = random.Random(seed)
        texts = pq.read_table(self.docs_path, columns=["doc_id", "text"]).to_pydict()
        self.shingles = {d: gen.shingle_set(t) for d, t in zip(texts["doc_id"], texts["text"])}
        emb = pq.read_table(self.emb_path, columns=["vec_id", "embedding"]).to_pydict()
        self.vec_ids = np.asarray(emb["vec_id"])
        self.vecs = np.asarray(emb["embedding"], dtype=np.float32).astype(np.float64)
        self.planted = [(a, b) for a, b, j in self.meta["planted"] if j >= THRESHOLD]
        self.candidates: dict[str, int] = {}
        self.verified: dict[str, list[int]] = {}
        self._queries: list[int] = []

    def properties(self) -> dict:
        return gen.llm_properties(self.meta, THRESHOLD)

    def request(self, kind: str, span=no_span):
        from pyspark.sql import functions as F
        from real_value_etl_spark.operators import dedup, similarity

        read = self.spark.read.parquet
        if kind == "brute_force_topk":
            ids = self.rng.sample(range(len(self.vec_ids)), QUERIES_PER_REQUEST)
            self._queries = [int(self.vec_ids[i]) for i in ids]
            with span(kind, "operators.similarity"):
                emb = read(self.emb_path)
                queries = emb.filter(F.col("vec_id").isin(self._queries))
                return similarity.brute_force_topk(emb, queries, TOPK).collect()
        with span(kind, "operators.dedup"):
            op = getattr(dedup, kind)
            return op(read(self.docs_path), "doc_id", "text", THRESHOLD).collect()

    def check(self, kind: str, reply) -> tuple[bool, str]:
        if kind == "brute_force_topk":
            return self._check_topk(reply)
        found = set()
        for r in reply:
            a, b, jac = r["doc_a"], r["doc_b"], r["jac"]
            if not a < b or jac != gen.jaccard(self.shingles[a], self.shingles[b]) or jac < THRESHOLD:
                return False, f"{kind}: pair ({a}, {b}, {jac}) fails the exact recompute"
            found.add((a, b))
        must = self.planted
        if kind == "minhash_lsh_pairs":  # LSH may miss a pair whose bands never collide
            must = [(a, b) for a, b in must
                    if _minhash_bands(self.shingles[a]) & _minhash_bands(self.shingles[b])]
        missing = [p for p in must if p not in found]
        if missing:
            return False, f"{kind}: {len(missing)} planted pairs missing, e.g. {missing[:3]}"
        self.verified.setdefault(kind, []).append(len(reply))
        return True, "ok"

    def _check_topk(self, reply) -> tuple[bool, str]:
        import numpy as np

        got: dict[int, list[tuple[int, float]]] = {}
        for r in reply:
            got.setdefault(r["qid"], []).append((r["rnk"], r["vec_id"], r["sim"]))
        if sorted(got) != sorted(self._queries):
            return False, "brute_force_topk: wrong query set"
        norms = np.sqrt(np.cumsum(self.vecs * self.vecs, axis=1)[:, -1])
        pos = {int(v): i for i, v in enumerate(self.vec_ids)}
        for qid in self._queries[:CHECKED_QUERIES]:
            q = self.vecs[pos[qid]]
            # the engine folds the dot product left to right; so does cumsum
            sims = np.cumsum(self.vecs * q, axis=1)[:, -1] / (norms * norms[pos[qid]])
            order = sorted((-s, int(v)) for s, v in zip(sims.tolist(), self.vec_ids.tolist()) if v != qid)
            want = [v for _, v in order[:TOPK]]
            have = [v for _, v, _ in sorted(got[qid])]
            if have != want:
                return False, f"brute_force_topk: query {qid} top-{TOPK} {have} != exact {want}"
        return True, "ok"

    def input_rows(self, kind: str) -> int:
        return self.meta["vectors"] if kind == "brute_force_topk" else self.meta["documents"]

    def input_bytes(self, kind: str) -> int:
        return self.meta["bytes"]["embeddings" if kind == "brute_force_topk" else "documents"]

    def output_bytes(self, kind: str, reply) -> int:
        return len(json.dumps([list(r) for r in reply]))

    def layer_counts(self) -> dict[str, float]:
        """Candidate and verified pair counts of the dedup operators, counted
        from their public candidate generators after the timed requests."""
        from real_value_etl_spark.operators import dedup

        candidates = {
            "minhash_lsh_pairs": lambda docs: dedup.lsh_candidate_pairs(
                dedup.minhash_signatures(docs, "doc_id", "text")),
            "ngram_jaccard_pairs_prefix": lambda docs: dedup.prefix_filtered_candidates(
                dedup.shingle_index(docs, "doc_id", "text"), THRESHOLD),
        }
        ran = [k for k in candidates if k in self.verified]
        if not ran:
            return {}
        docs = self.spark.read.parquet(self.docs_path)
        c = sum(candidates[k](docs).count() for k in ran) / len(ran)
        v = sum(self.verified[k][-1] for k in ran) / len(ran)
        return {"operators.dedup.candidate_pairs": float(c),
                "operators.dedup.verified_pairs": float(v),
                "operators.dedup.useful_ratio": v / c if c else 0.0}


# --------------------------------------------------------------------------
# analytics_mix
# --------------------------------------------------------------------------


class AnalyticsMix:
    """query_mix and llm_corpus requests interleaved in one seeded order:
    the read-only request kinds of the service behind one client, so one run
    (one session start) times both the query and the operator layers.

    To keep one run near a minute, the mix leaves some kinds to the
    standalone workloads: the prefix-filtered Jaccard operator (MinHash-LSH
    already exercises the dedup layer's candidate generation) and the
    window-rank, rollup and top-customers queries (q1, q3, q5, q6 and q17
    cover scan, join, star-join and subquery plans). Each kind costs a cold
    and a warm execution per run."""

    excluded = ("ngram_jaccard_pairs_prefix", "q_window_order_rank",
                "q_rollup_returnflag", "q_top_customers")

    def __init__(self, work: str, seed: int, inputs: str, meta: dict):
        import random

        self.parts = [QueryMix(work, seed, inputs, meta), LlmCorpus(work, seed, inputs, meta)]
        self.owner = {k: p for p in self.parts for k in p.kinds if k not in self.excluded}
        self.first_kind = "q1_pricing_summary"
        self.kinds = sorted(self.owner)
        random.Random(seed).shuffle(self.kinds)
        self.warmup_kinds = [k for k in self.kinds if k != self.first_kind]
        self.round_len = len(self.kinds)

    @property
    def spark(self):
        return self.parts[0].spark

    @spark.setter
    def spark(self, session) -> None:
        for p in self.parts:
            p.spark = session

    def properties(self) -> dict:
        return {k: v for p in self.parts for k, v in p.properties().items()}

    def request(self, kind: str, span=no_span):
        return self.owner[kind].request(kind, span)

    def check(self, kind: str, reply) -> tuple[bool, str]:
        return self.owner[kind].check(kind, reply)

    def input_rows(self, kind: str) -> int:
        return self.owner[kind].input_rows(kind)

    def input_bytes(self, kind: str) -> int:
        return self.owner[kind].input_bytes(kind)

    def output_bytes(self, kind: str, reply) -> int:
        return self.owner[kind].output_bytes(kind, reply)

    def layer_counts(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layer_counts().items()}


WORKLOADS = {
    "etl_refresh": EtlRefresh,
    "analytics_mix": AnalyticsMix,
    "query_mix": QueryMix,
    "llm_corpus": LlmCorpus,
}
