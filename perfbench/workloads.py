"""The workloads. Each makes its inputs from the seed, lists its timed
operations with their checks, and in a traced run adds the calls that split
each operation into its layers.

- keys_sharded: the paper's flow on sequential int64 keys — sharded Bloom
  build, weight, shuffled positive lookup, disjoint negatives.
- tokens_table: sketch builds and a self-probe over a Zipf token table.
- oracle-gated catalog queries over seeded tables run inside the traced
  keys_sharded run (see CatalogGates).
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import kernels
from harness import Bench, Op

SKETCH_HASH_SEED = 42  # sharded routing requires Spark's xxhash64 seed


def _digest(sk) -> str:
    return hashlib.blake2b(sk.to_bytes(), digest_size=16).hexdigest()


def _layered_build(b: Bench, name: str, frame, span: str, finish_span: str,
                   finish, check) -> tuple[list, dict[str, float]]:
    """Time one distributed build in three layers: compute (the frame
    written to a noop sink, which also caches it), collect (Arrow, from the
    cache) and the driver-side `finish` of the collected rows."""
    from pimbloomfilters_spark.operators.build import collect_rows

    tr, held = b.tracer, {"rows": []}
    frame = frame.persist()

    def compute():
        with tr.span(span):
            frame.write.format("noop").mode("overwrite").save()

    def collect():
        with tr.span("operators.build.collect_rows"):
            held["rows"] = collect_rows(frame)

    def finish_rows():
        with tr.span(finish_span):
            return finish(held["rows"])

    try:
        for step, fn, chk in (("compute", compute, lambda _: []),
                              ("collect", collect, lambda _: []),
                              ("finish", finish_rows, check)):
            b.call(Op(f"layer.{name}_{step}", fn, chk))
    finally:
        frame.unpersist()
    return held["rows"], {step: b.median(f"layer.{name}_{step}")
                          for step in ("compute", "collect", "finish")}


class Workload:
    name = ""

    def __init__(self, bench: Bench, spark, seed: int, toy: bool,
                 inject: bool, work_dir: str, parallelism: int):
        self.bench, self.spark, self.seed = bench, spark, seed
        self.toy, self.inject, self.work_dir = toy, inject, work_dir
        self.par = parallelism
        self.tr = bench.tracer

    def prepare(self) -> None:
        """Make and persist the inputs (run several times for setup_s)."""

    def exact(self) -> None:
        """Exact answers for the checks; never inside a timed section."""

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def layers(self) -> dict[str, float]:
        """Traced run only: per-layer figures beyond the op timings."""
        return {}

    def release(self) -> None:
        pass


class KeysSharded(Workload):
    name = "keys_sharded"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n = 100_000 if self.toy else 5_000_000
        self.n_neg = 50_000 if self.toy else 2_000_000
        self.size2 = 20 if self.toy else 26
        self.k, self.shards = 8, 16
        self.start = (self.seed % (1 << 22)) << 40
        rng = np.random.default_rng(self.seed % (1 << 32))
        mult = int(rng.integers(1 << 20, 1 << 31)) | 1
        while math.gcd(mult, self.n) != 1:
            mult += 2
        self.mult = mult
        self.keys = None
        self.sk = None
        self.first: tuple[str, int] | None = None
        self.fpr = None

    def prepare(self) -> None:
        if self.keys is not None:
            self.keys.unpersist()
        with self.tr.span("sources.keys_persist"):
            self.keys = self.spark.range(
                self.start, self.start + self.n, numPartitions=2 * self.par
            ).persist(StorageLevel.MEMORY_AND_DISK)
            self.keys.count()
        # a seeded permutation of the same keys; the injected fault probes
        # keys that were never inserted
        shift = 7 * self.n if self.inject else 0
        self.probe_df = self.keys.select(
            ((F.col("id") - self.start) * self.mult % self.n
             + (self.start + shift)).alias("id"))
        self.neg_df = self.spark.range(self.start + self.n,
                                       self.start + self.n + self.n_neg,
                                       numPartitions=self.par)

    def _insert(self):
        from pimbloomfilters_spark.operators.sharded import build_bloom_sharded

        with self.tr.span("operators.sharded.build_bloom_sharded"):
            self.sk = build_bloom_sharded(self.keys, "id", self.size2, self.k,
                                          seed=SKETCH_HASH_SEED,
                                          n_shards=self.shards)
        return self.sk

    def _check_insert(self, sk) -> list[str]:
        digest = _digest(sk)
        if self.first is None:
            self.first = (digest, sk.get_weight())
        return [] if digest == self.first[0] else [
            f"filter blake2b {digest} != first build {self.first[0]}"]

    def _weight(self):
        with self.tr.span("sketches.bloom.get_weight"):
            return self.sk.get_weight()

    def _probe(self, df):
        from pimbloomfilters_spark.operators.probe import probe_count

        with self.tr.span("operators.probe.probe_count"):
            return probe_count(df, self.sk, "id")

    def _check_lookup(self, res) -> list[str]:
        n, hits = res
        return [] if n == hits == self.n else [
            f"lookup probed {n}, hit {hits}, expected {self.n} (false negatives)"]

    def _check_negatives(self, res) -> list[str]:
        n, fp = res
        bound = self.sk.theoretical_fpr_bound(self.n)
        self.fpr = fp / n if n else float("nan")
        limit = bound + 4 * math.sqrt(bound * (1 - bound) / self.n_neg)
        if n != self.n_neg:
            return [f"negatives probed {n}, expected {self.n_neg}"]
        return [] if self.fpr <= limit else [
            f"FPR {self.fpr:.6f} above bound {bound:.6f} + 4 sigma"]

    def ops(self) -> list[Op]:
        return [
            Op("insert", self._insert, self._check_insert),
            Op("weight", self._weight,
               lambda w: [] if w == self.first[1] else
               [f"weight {w} != first build {self.first[1]}"]),
            Op("lookup", lambda: self._probe(self.probe_df), self._check_lookup),
            Op("negatives", lambda: self._probe(self.neg_df), self._check_negatives),
        ]

    def fpr_ratio(self) -> float:
        return self.fpr / self.sk.theoretical_fpr_bound(self.n)

    def layers(self) -> dict[str, float]:
        from pimbloomfilters_spark.operators.probe import ship_sketch
        from pimbloomfilters_spark.operators.sharded import (
            assemble_bloom, build_bloom_shards)
        from pimbloomfilters_spark.sketches import sketch_from_bytes

        b, out = self.bench, {}
        shards = build_bloom_shards(self.keys, "id", self.size2, self.k,
                                    seed=SKETCH_HASH_SEED, n_shards=self.shards)
        rows, t = _layered_build(
            b, "sharded", shards, "operators.sharded.build_bloom_shards",
            "operators.sharded.assemble_bloom",
            lambda rows: assemble_bloom(rows, self.size2, self.k,
                                        seed=SKETCH_HASH_SEED, n_shards=self.shards),
            lambda bf: [] if _digest(bf) == self.first[0] else
            ["assembled shards differ from the built filter"])
        n_values = sorted(r["n_values"] for r in rows) or [0]
        out["operators.sharded.compute_s"] = t["compute"]
        out["operators.sharded.collect_s"] = t["collect"]
        out["operators.sharded.assemble_s"] = t["finish"]
        out["operators.sharded.wire_bytes"] = float(sum(len(r["sketch"]) for r in rows))
        out["operators.sharded.shard_skew"] = n_values[-1] / max(1, statistics.median(n_values))

        fresh = sketch_from_bytes(self.sk.to_bytes())
        fresh.insert_bulk(np.array([self.start - 1], dtype=np.int64))

        def ship(sk):
            with self.tr.span("operators.probe.ship_sketch"):
                return ship_sketch(self.spark, sk)

        b.call(Op("layer.ship_cold", lambda: ship(fresh), lambda _: []))
        b.call(Op("layer.ship_warm", lambda: ship(self.sk), lambda _: []))
        out["operators.probe.ship_cold_s"] = b.median("layer.ship_cold")
        out["operators.probe.ship_warm_s"] = b.median("layer.ship_warm")
        out["operators.probe.count_s"] = b.times["lookup"][-1]
        out["operators.probe.negatives_s"] = b.times["negatives"][-1]

        values = np.arange(self.start, self.start + (1 << 19), dtype=np.int64)
        out.update(kernels.bloom_kernels(self.tr, values, self.size2, self.k,
                                         weight=True))
        out.update(CatalogGates(b, self.spark, self.seed, self.toy,
                                self.work_dir).layers())
        return out

    def release(self) -> None:
        if self.keys is not None:
            self.keys.unpersist()


_KINDS = {
    "bloom": dict(size2=24, nb_hash=8),
    "hll": dict(p=14),
    "cms": dict(eps=1e-4, delta=1e-3),
    "kll": dict(k=200),
}
_KLL_QS = (0.01, 0.25, 0.5, 0.75, 0.99)


def _factory(kind: str):
    from pimbloomfilters_spark.sketches import make_sketch

    return functools.partial(make_sketch, kind, **_KINDS[kind])


def _hll_bound() -> float:
    return 4 * 1.04 / math.sqrt(1 << _KINDS["hll"]["p"])


class TokensTable(Workload):
    name = "tokens_table"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rows = 3_000 if self.toy else 40_000
        self.start_id = (self.seed % (1 << 20)) * 10**9
        self.toks = None
        self.bloom = None
        self.first_bloom = None

    def prepare(self) -> None:
        from pimbloomfilters_spark.sources import generate_token_sequences

        if self.toks is not None:
            self.toks.unpersist()
        with self.tr.span("sources.generate_token_sequences"):
            self.toks = generate_token_sequences(
                self.spark, self.rows, num_partitions=2 * self.par,
                start_id=self.start_id).persist(StorageLevel.MEMORY_AND_DISK)
            self.n_tokens = int(self.toks.agg(F.sum("n_tok")).collect()[0][0])

    def exact(self) -> None:
        import pyarrow.compute as pc

        tbl = self.toks.select("source", "tokens").toArrow()
        lists = tbl.column("tokens").combine_chunks()
        flat = np.asarray(lists.flatten().to_numpy(zero_copy_only=False), np.int64)
        lens = np.asarray(lists.value_lengths().to_numpy(zero_copy_only=False), np.int64)
        src = pc.dictionary_encode(tbl.column("source").combine_chunks())
        codes = np.repeat(src.indices.to_numpy(zero_copy_only=False).astype(np.int64), lens)
        self.sorted = np.sort(flat)
        uniq, cnt = np.unique(self.sorted, return_counts=True)
        self.distinct = uniq.size
        top = np.argsort(-cnt, kind="stable")[:20]
        self.top_ids, self.top_cnt = uniq[top], cnt[top]
        per_src = np.bincount(np.unique((codes << 32) | flat) >> 32,
                              minlength=len(src.dictionary))
        self.distinct_by_source = dict(zip(src.dictionary.to_pylist(),
                                           per_src.tolist()))

    def _build(self, kind: str):
        from pimbloomfilters_spark.operators import build_sketch

        with self.tr.span("operators.build.build_sketch"):
            sk, _ = build_sketch(self.toks, "tokens", _factory(kind))
        if kind == "bloom":
            self.bloom = sk
        return sk

    def _check_bloom(self, sk) -> list[str]:
        digest = _digest(sk)
        self.first_bloom = self.first_bloom or digest
        return [] if digest == self.first_bloom else [
            "token bloom differs from the first build"]

    def _check_hll(self, sk) -> list[str]:
        rel = abs(sk.estimate() - self.distinct) / self.distinct
        return [] if rel <= _hll_bound() else [
            f"HLL relative error {rel:.4f} > {_hll_bound():.4f}"]

    def _check_cms(self, sk) -> list[str]:
        est = np.asarray(sk.query_bulk(self.top_ids), dtype=np.int64)
        slack = _KINDS["cms"]["eps"] * self.n_tokens
        errs = []
        if (est < self.top_cnt).any():
            errs.append("CMS underestimates a top token")
        if (est - self.top_cnt).max() > slack:
            errs.append(f"CMS overestimate {(est - self.top_cnt).max()} > eps*N {slack:.0f}")
        return errs

    def _check_kll(self, sk) -> list[str]:
        n, bound = self.sorted.size, 2.861 / _KINDS["kll"]["k"]
        worst = 0.0
        for q in _KLL_QS:
            v = sk.quantile(q)
            lo = np.searchsorted(self.sorted, v, side="left") / n
            hi = np.searchsorted(self.sorted, v, side="right") / n
            worst = max(worst, lo - q, q - hi)  # 0 when q falls in v's rank range
        return [] if worst <= bound else [f"KLL rank error {worst:.4f} > {bound:.4f}"]

    def _grouped(self):
        from pimbloomfilters_spark.operators import build_sketch_grouped
        from pimbloomfilters_spark.operators.build import collect_rows

        with self.tr.span("operators.build.build_sketch_grouped"):
            return collect_rows(build_sketch_grouped(
                self.toks, "source", "tokens", _factory("hll")))

    def _check_grouped(self, rows) -> list[str]:
        from pimbloomfilters_spark.sketches import sketch_from_bytes

        got = {r["source"]: sketch_from_bytes(r["sketch"]).estimate() for r in rows}
        if got.keys() != self.distinct_by_source.keys():
            return [f"sources {sorted(got)} != {sorted(self.distinct_by_source)}"]
        return [f"{s}: HLL {got[s]:.0f} vs exact {d}"
                for s, d in self.distinct_by_source.items()
                if abs(got[s] - d) / d > _hll_bound()]

    def _probe(self):
        from pimbloomfilters_spark.operators import probe_array_column

        with self.tr.span("operators.probe.probe_array_column"):
            row = probe_array_column(self.toks, self.bloom, "tokens").agg(
                F.sum(F.size("member")),
                F.sum(F.when(F.forall("member", lambda m: m), 0).otherwise(1)),
            ).collect()[0]
        return int(row[0]), int(row[1])

    def ops(self) -> list[Op]:
        n = self.n_tokens
        return [
            Op("tokens_bloom", lambda: self._build("bloom"), self._check_bloom),
            Op("tokens_hll", lambda: self._build("hll"), self._check_hll),
            Op("tokens_cms", lambda: self._build("cms"), self._check_cms),
            Op("tokens_kll", lambda: self._build("kll"), self._check_kll),
            Op("grouped_hll", self._grouped, self._check_grouped),
            Op("probe_tokens", self._probe,
               lambda r: [] if r == (n, 0) else
               [f"self-probe: {r[0]} of {n} tokens probed, {r[1]} rows not all true"]),
        ]

    def layers(self) -> dict[str, float]:
        from pimbloomfilters_spark.operators import build_partials, merge_partial_rows

        b, out = self.bench, {}
        for kind in _KINDS:
            rows, t = _layered_build(
                b, kind, build_partials(self.toks, "tokens", _factory(kind)),
                "operators.build.build_partials", "operators.build.merge_partial_rows",
                merge_partial_rows,
                lambda res: [] if res[1]["n_values"] == self.n_tokens else
                [f"merged n_values {res[1]['n_values']} != {self.n_tokens}"])
            p = f"operators.build.{kind}"
            build_ms = sorted(r["build_ms"] for r in rows) or [0.0]
            out[f"{p}.compute_s"] = t["compute"]
            out[f"{p}.collect_s"] = t["collect"]
            out[f"{p}.merge_s"] = t["finish"]
            out[f"{p}.partial_bytes"] = float(sum(len(r["sketch"]) for r in rows))
            out[f"{p}.partials"] = float(len(rows))
            out[f"{p}.skew"] = build_ms[-1] / max(1e-9, statistics.median(build_ms))
            if kind == "bloom":
                dense = (1 << _KINDS["bloom"]["size2"]) // 8
                sparse = sum(kernels.payload_len(r["sketch"]) != dense for r in rows)
                out[f"{p}.sparse_share"] = sparse / max(1, len(rows))
        out["operators.build.grouped_s"] = b.times["grouped_hll"][-1]
        out["operators.probe.array_s"] = b.times["probe_tokens"][-1]

        from pimbloomfilters_spark.sources.synthetic import generate_pdf

        batch = generate_pdf(np.arange(self.start_id, self.start_id + 8192))
        values = np.concatenate(batch["tokens"].to_list()).astype(np.int64)
        out.update(kernels.bloom_kernels(self.tr, values, _KINDS["bloom"]["size2"],
                                         _KINDS["bloom"]["nb_hash"], weight=False))
        for kind in ("hll", "cms", "kll"):
            out.update(kernels.sketch_kernels(self.tr, kind, values, **_KINDS[kind]))
        return out

    def release(self) -> None:
        if self.toks is not None:
            self.toks.unpersist()


# Oracle-gated catalog queries. Their fixed Spark cost (a cold streaming
# query alone takes ~20 s) does not fit a workload of its own within the
# benchmark's time budget, so the traced keys_sharded run calls them: once
# cold, once timed, each result checked against its DuckDB oracle.
GATES = ("session_stream_parity", "bloom_runtime_filter_join")
_GATE_LAYER = {"session_stream_parity": "streaming"}


class CatalogGates:
    def __init__(self, bench: Bench, spark, seed: int, toy: bool, work_dir: str):
        self.bench, self.spark, self.tr = bench, spark, bench.tracer
        self.seed, self.toy = seed, toy
        self.dir = os.path.join(work_dir, "tables")
        self.oracle: dict[str, tuple] = {}

    def prepare(self) -> None:
        from tables import make_tables, write_tables

        scale = dict(n_customer=300, n_orders=3000, n_events=2000, n_users=30,
                     n_docs=100) if self.toy else {}
        with self.tr.span("sources.tables_generate"):
            write_tables(make_tables(self.seed, **scale), self.dir)

    def exact(self) -> None:
        import duckdb

        from pimbloomfilters_spark.plans import CATALOG
        from tables import canon

        con = duckdb.connect()
        try:
            for f in os.listdir(self.dir):
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                            f"SELECT * FROM '{os.path.join(self.dir, f)}'")
            for g in GATES:
                self.oracle[g] = canon(con.sql(CATALOG[g].oracle).df())
        finally:
            con.close()

    def _gate(self, g: str):
        from pimbloomfilters_spark.plans import CATALOG

        with self.tr.span(f"plans.{g}", layer=_GATE_LAYER.get(g, "plans")):
            return CATALOG[g].fn(self.spark, self.dir).toPandas()

    def _check(self, g: str, pdf) -> list[str]:
        from tables import canon

        got, want = canon(pdf), self.oracle[g]
        return [] if got == want else [
            f"rows/cols/hash {got} != oracle {want}"]

    def layers(self) -> dict[str, float]:
        from pimbloomfilters_spark.sources.tables import unpersist_tokens

        b = self.bench
        t0 = time.perf_counter()
        self.prepare()
        out = {"sources.tables_generate_s": time.perf_counter() - t0}
        self.exact()
        ops = [Op(f"gate.{g}", functools.partial(self._gate, g),
                  functools.partial(self._check, g)) for g in GATES]
        b.run_pass(ops, record=False)
        b.run_pass(ops)
        unpersist_tokens(self.spark)
        for g in GATES:
            out[f"plans.{g}_s"] = b.times[f"gate.{g}"][-1]
        out["op.catalog_geomean_s"] = b.geomean_s([op.name for op in ops])
        return out


WORKLOADS = {w.name: w for w in (KeysSharded, TokensTable)}
