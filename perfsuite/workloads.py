"""The benchmark's three workloads.

Each workload is one user pipeline over inputs generated from the seed:

* ``generate`` writes the inputs to parquet with DuckDB or pyarrow (untimed);
* ``oracle`` computes the exact answers with DuckDB over the same files
  (untimed);
* ``prepare`` is the per-session preparation a user pays once;
* ``run`` is one timed job: public library calls, results collected;
* ``run_traced`` is the same job split at its layer boundaries into spans
  (see tracing.py), used only by ``--trace 1``;
* ``check`` compares a job's output with the exact answers.

See README.md in this directory for why each workload exists and which
layers it loads.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from puddsketch_spark.core import HLLSketch
from puddsketch_spark.core.uddsketch import MIN_ADDRESSABLE
from puddsketch_spark.ops.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    release_cached,
    dedup_survivors,
)
from puddsketch_spark.ops.pipeline import curate_documents
from puddsketch_spark.ops.text import normalize_text, with_quality_score
from puddsketch_spark.sources import read_transcripts
from puddsketch_spark.spark.agg import (
    merge_grouped,
    partial_sketches,
    quantile_table,
    sketch_grouped_jvm,
    udds_bucket_counts,
    udds_quantiles_multi,
    udds_states_from_buckets,
)
from puddsketch_spark.spark.features import with_inter_turn_latency, with_text_len
from puddsketch_spark.spark.sketches import hll_distinct
from puddsketch_spark.spark.sqlfns import register_sql_functions

ALPHA = 0.01
M = 200
QS = (0.5, 0.9, 0.99, 0.999)
HLL_P = 14
# HLL has no hard bound; a job fails beyond four standard errors
HLL_BOUND = 4 * 1.04 / math.sqrt(2**HLL_P)
_GAMMA0 = (1.0 + ALPHA) / (1.0 - ALPHA)
_LOG_GAMMA = float(np.log(_GAMMA0))
# float rounding at a bucket edge may put an estimate a few ulps past alpha
_TOL = 1e-9
# inputs are written as this many parquet files, so the scan splits into
# one task per core
FILES = 4


# ---------------------------------------------------------------- oracle
def _alpha_after(collapses: int) -> float:
    g = _GAMMA0 ** float(2**collapses)
    return (g - 1.0) / (g + 1.0)


def _quantile_truth(xs: np.ndarray) -> dict:
    """Exact answers for one group of sorted values: count, the order
    statistic the sketch estimates (rank floor(q*(n-1))), and the error
    bound after the collapses the group's values force. Uniform collapse
    composes and merging commutes, so any fill or merge order ends at the
    smallest collapse count c with at most M distinct ceil(key / 2^c)."""
    n = xs.size
    exact = {q: float(xs[int(np.floor(q * (n - 1)))]) for q in QS}
    live = xs[xs >= MIN_ADDRESSABLE]
    keys = np.unique(np.ceil(np.log(live) / _LOG_GAMMA).astype(np.int64))
    c = 0
    while np.unique(-((-keys) // (1 << c))).size > M:
        c += 1
    return {"n": n, "exact": exact, "alpha": _alpha_after(c)}


def _grouped_truth(con, relation: str, group_cols: list[str], value: str) -> dict:
    """group key tuple -> _quantile_truth, for ``value`` over ``relation``
    (NULL and NaN values dropped, as the sketch layer does)."""
    g = ", ".join(group_cols)
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE _v AS SELECT {g}, {value} AS v "
        f"FROM ({relation}) WHERE {value} IS NOT NULL AND NOT isnan({value})"
    )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE _k AS SELECT {g}, "
        f"row_number() OVER (ORDER BY {g}) - 1 AS gid FROM (SELECT DISTINCT {g} FROM _v)"
    )
    keys = {int(r[-1]): tuple(r[:-1]) for r in con.execute("SELECT * FROM _k").fetchall()}
    on = " AND ".join(f"_v.{c} IS NOT DISTINCT FROM _k.{c}" for c in group_cols)
    arr = con.execute(
        f"SELECT _k.gid AS gid, _v.v AS v FROM _v JOIN _k ON {on} ORDER BY gid, v"
    ).fetchnumpy()
    gid, v = np.asarray(arr["gid"]), np.asarray(arr["v"], dtype=np.float64)
    cuts = np.flatnonzero(np.diff(gid)) + 1
    return {
        keys[int(part_gid[0])]: _quantile_truth(part_v)
        for part_gid, part_v in zip(np.split(gid, cuts), np.split(v, cuts))
    }


def _distinct_truth(con, relation: str, key: str, col: str) -> dict:
    return {
        (k,): n
        for k, n in con.execute(
            f"SELECT {key}, count(DISTINCT {col}) FROM ({relation}) GROUP BY {key}"
        ).fetchall()
    }


# ---------------------------------------------------------------- inputs
def _u(seed: int, tag: str) -> str:
    """Uniform(0, 1) from a hash of (seed, conversation, turn, tag)."""
    return (f"((hash(concat_ws(':', {seed}, conv, turn_idx, '{tag}')) >> 32) + 0.5) "
            "/ 4294967296.0")


def write_transcripts(con, path: str, seed: int, n_conv: int, zipf_head: int | None,
                      lognormal: bool) -> int:
    """Write a transcript table (the shape read_transcripts validates and
    datagen.transcripts produces) as FILES parquet files, with DuckDB.

    Conversation sizes are uniform on 1..15 turns or, with ``zipf_head``,
    Zipf by rank: the conversation of rank r has max(1, zipf_head / r^0.8)
    turns, ranks being a seeded permutation. Zipf by rank fixes the table
    size for every seed, where random Pareto sizes would make it swing by
    several percent. Text lengths are uniform on 1..999 or, ``lognormal``,
    lognormal(5, 1); inter-turn latency is exponential(1) seconds.
    """
    u_size = f"((hash(concat_ws(':', {seed}, conv, 'size')) >> 32) + 0.5) / 4294967296.0"
    n_turns = (f"greatest(1, floor({zipf_head} / pow(rank, 0.8)))" if zipf_head
               else f"1 + floor({u_size} * 15)")
    text_len = (f"greatest(1, floor(exp(5 + sqrt(-2 * ln({_u(seed, 'len1')})) "
                f"* cos(2 * pi() * {_u(seed, 'len2')}))))" if lognormal
                else f"1 + floor({_u(seed, 'len1')} * 999)")
    os.makedirs(path)
    for part in range(FILES):
        con.execute(f"""
        COPY (
          WITH convs AS (
            SELECT range AS conv, row_number() OVER (
              ORDER BY hash(concat_ws(':', {seed}, range, 'rank'))) AS rank
            FROM range({n_conv})
          ), turns AS (
            SELECT conv, unnest(range(({n_turns})::BIGINT)) AS turn_idx
            FROM convs WHERE conv % {FILES} = {part}
          ), draws AS (
            SELECT conv, turn_idx, printf('c%08d', conv) AS conv_id,
              {_u(seed, 'role')} AS u_role, {_u(seed, 'tool')} AS u_tool,
              {text_len}::INTEGER AS text_len,
              floor(-ln({_u(seed, 'lat')}) * 1e6)::BIGINT AS lat_us
            FROM turns
          ), roles AS (
            SELECT *, CASE WHEN u_role < 0.40 THEN 'user' WHEN u_role < 0.80 THEN 'assistant'
                           WHEN u_role < 0.85 THEN 'system' ELSE 'tool' END AS role
            FROM draws
          )
          SELECT conv_id, turn_idx::INTEGER AS turn_idx, role,
            rpad(concat_ws(':', role, conv_id, turn_idx::VARCHAR, ''), text_len, 'x') AS text,
            CASE WHEN role = 'tool' THEN
              (['search', 'python', 'browser', 'editor'])[floor(u_tool * 4)::INTEGER + 1] END AS tool,
            TIMESTAMPTZ '2026-01-01 00:00:00+00' + to_microseconds((
              conv * 60000000 + sum(lat_us) OVER (PARTITION BY conv ORDER BY turn_idx))::BIGINT) AS ts
          FROM roles
        ) TO '{path}/part-{part}.parquet' (FORMAT parquet)""")
    return con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]


# ---------------------------------------------------------------- checks
class Check:
    """Accumulates one job's comparison with the exact answers."""

    def __init__(self):
        self.problems: list[str] = []
        self.err_ratio_max: float | None = None
        self.recall: float | None = None

    def fail(self, msg: str) -> None:
        self.problems.append(msg)

    def ratio(self, what, est, exact, bound) -> None:
        if exact == 0:
            r = 0.0 if est == 0 else math.inf
        else:
            r = abs(est - exact) / abs(exact) / bound
        self.err_ratio_max = max(self.err_ratio_max or 0.0, r)
        if not r <= 1.0 + _TOL:
            self.fail(f"{what}: estimate {est} vs exact {exact} is {r:.3f}x the bound")

    def quantiles(self, what, got: dict, truth: dict) -> None:
        """got: group key -> (n, {q: est})."""
        if set(got) != set(truth):
            self.fail(f"{what}: groups {sorted(map(str, set(got) ^ set(truth)))[:3]} differ")
        for key, t in truth.items():
            if key not in got:
                continue
            n, ests = got[key]
            if n != t["n"]:
                self.fail(f"{what} {key}: n {n} != {t['n']}")
            if set(ests) != set(QS):
                self.fail(f"{what} {key}: quantiles {sorted(ests)} != {list(QS)}")
                continue
            for q in QS:
                self.ratio(f"{what} {key} q={q}", ests[q], t["exact"][q], t["alpha"])

    def distinct(self, what, got: dict, truth: dict) -> None:
        if set(got) != set(truth):
            self.fail(f"{what}: groups differ")
        for key in set(got) & set(truth):
            self.ratio(f"{what} {key}", got[key], truth[key], HLL_BOUND)

    @property
    def ok(self) -> bool:
        return not self.problems


def _epoch(ts) -> int:
    return int(ts.timestamp())


def _unique(pairs) -> dict:
    """dict from (key, value) pairs; a key returned twice is a wrong output."""
    out: dict = {}
    for k, v in pairs:
        if k in out:
            raise ValueError(f"{k} returned twice")
        out[k] = v
    return out


def _table_rows(rows, key_cols, feature: str | None = None) -> dict:
    """quantile_table rows -> key -> (n, {q: est})."""
    def group_of(r):
        return (((r[feature],) if feature else ())
                + tuple(_epoch(r[c]) if c == "hour" else r[c] for c in key_cols))

    cells = _unique(((group_of(r), float(r["q"])), (r["n"], float(r["est"]))) for r in rows)
    out: dict = {}
    for (key, q), (n, est) in cells.items():
        out.setdefault(key, (n, {}))[1][q] = est
    return out


# ---------------------------------------------------------------- workloads
class FlagshipQuantiles:
    """The paper's core query: many rows, few groups."""

    name = "flagship_quantiles"
    n_conv = 40_000  # uniform 1..15 turns per conversation: ~320k turns
    features = ["text_len", "latency_s"]
    groups = ["role", "tool"]

    def generate(self, con, seed: int, data: str) -> int:
        return write_transcripts(con, os.path.join(data, "turns"), seed, self.n_conv,
                                 zipf_head=None, lognormal=False)

    def oracle(self, con, data: str) -> dict:
        rel = (
            "SELECT conv_id, role, tool, length(text)::DOUBLE AS text_len, "
            "(epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY conv_id "
            "ORDER BY turn_idx)))::DOUBLE / 1e6 AS latency_s "
            f"FROM read_parquet('{data}/turns/*.parquet')"
        )
        truth = {}
        for f in self.features:
            for key, t in _grouped_truth(con, rel, self.groups, f).items():
                truth[(f,) + key] = t
        return {"quantiles": truth,
                "distinct": _distinct_truth(con, rel, "role", "conv_id")}

    def prepare(self, spark, data: str) -> None:
        pass

    def run(self, spark, data: str, work: str) -> dict:
        turns = read_transcripts(spark, os.path.join(data, "turns"), fmt="parquet")
        feats = with_inter_turn_latency(with_text_len(turns))
        q = udds_quantiles_multi(feats, self.features, self.groups, QS, ALPHA, M).collect()
        h = hll_distinct(turns, "conv_id", ["role"], p=HLL_P).collect()
        return {"quantiles": _table_rows(q, self.groups, "feature"),
                "distinct": _unique(((r["role"],), r["est"]) for r in h)}

    def run_traced(self, spark, data: str, work: str, tr) -> dict:
        turns, _ = tr.materialize("sources.read_transcripts", lambda: read_transcripts(
            spark, os.path.join(data, "turns"), fmt="parquet"))
        feats, _ = tr.materialize("features.with_inter_turn_latency", lambda: (
            with_inter_turn_latency(with_text_len(turns))
            .select(*self.groups, *self.features)))
        # the (feature, value) stack udds_quantiles_multi applies before its fill
        stacked = feats.select(
            *self.groups,
            F.explode(F.array(*[
                F.struct(F.lit(c).alias("feature"), F.col(c).cast("double").alias("_value"))
                for c in self.features
            ])).alias("_fv"),
        ).select("_fv.feature", *self.groups, "_fv._value")
        gcols = ["feature", *self.groups]
        buckets, n_buckets = tr.materialize("agg.udds_bucket_counts", lambda: (
            udds_bucket_counts(stacked, "_value", gcols, ALPHA)))
        states, n_groups = tr.materialize("agg.udds_states_from_buckets", lambda: (
            udds_states_from_buckets(buckets, gcols, ALPHA, M)))
        table, _ = tr.materialize("agg.quantile_table", lambda: (
            quantile_table(states, gcols, QS, extra_cols=["n"])))
        q = table.collect()
        partials, n_partials = tr.materialize("agg.partial_sketches", lambda: (
            partial_sketches(turns, "conv_id", ["role"], lambda: HLLSketch(p=HLL_P))))
        merged, _ = tr.materialize("agg.merge_grouped", lambda: (
            merge_grouped(partials, ["role"], HLLSketch.from_bytes)))
        h = merged.select("role", "state").collect()
        tr.add("agg.bucket_rows", n_buckets)
        tr.add("agg.groups", n_groups)
        tr.add("agg.partial_rows", n_partials)
        tr.add("agg.state_mb", _state_mb(states) + _state_mb(merged))
        return {"quantiles": _table_rows(q, self.groups, "feature"),
                "distinct": _unique(
                    ((r["role"],), round(HLLSketch.from_bytes(r["state"]).estimate()))
                    for r in h)}

    def check(self, out: dict, truth: dict) -> Check:
        c = Check()
        c.quantiles("quantiles", out["quantiles"], truth["quantiles"])
        c.distinct("distinct conv_id", out["distinct"], truth["distinct"])
        return c


def _state_mb(states) -> float:
    return (states.select(F.sum(F.length("state"))).first()[0] or 0) / 1e6


_REGROUP = (
    "SELECT {key}, udds_count(st) AS n, "
    + ", ".join(f"udds_quantile(st, {q!r}D) AS q{i}" for i, q in enumerate(QS))
    + " FROM (SELECT {key}, udds_merge(state) AS st FROM udd_states GROUP BY {key})"
)


class StateRollup:
    """A fine-grained dashboard: many groups of few rows each, their
    sketch states written beside the reads and regrouped in SQL."""

    name = "state_rollup"
    n_conv = 1_200  # Zipf-sized conversations: ~8k turns, ~150 (hour, role, tool) groups
    groups = ["hour", "role", "tool"]

    def generate(self, con, seed: int, data: str) -> int:
        return write_transcripts(con, os.path.join(data, "turns"), seed, self.n_conv,
                                 zipf_head=600, lognormal=True)

    def oracle(self, con, data: str) -> dict:
        rel = (
            "SELECT conv_id, role, tool, length(text)::DOUBLE AS text_len, "
            "epoch(date_trunc('hour', ts))::BIGINT AS hour "
            f"FROM read_parquet('{data}/turns/*.parquet')"
        )
        return {
            "dashboard": _grouped_truth(con, rel, self.groups, "text_len"),
            "by_role": _grouped_truth(con, rel, ["role"], "text_len"),
            "by_hour": _grouped_truth(con, rel, ["hour"], "text_len"),
            "distinct": _distinct_truth(con, rel, "role", "conv_id"),
        }

    def prepare(self, spark, data: str) -> None:
        register_sql_functions(spark, alpha=ALPHA, m=M, hll_p=HLL_P)

    def _features(self, turns):
        return with_text_len(turns).withColumn("hour", F.date_trunc("hour", "ts"))

    def _regroups(self, spark) -> dict:
        out = {}
        for key in ("role", "hour"):
            rows = spark.sql(_REGROUP.format(key=key)).collect()
            out[f"by_{key}"] = _unique(
                ((_epoch(r[key]) if key == "hour" else r[key],),
                 (r["n"], {q: float(r[f"q{i}"]) for i, q in enumerate(QS)}))
                for r in rows
            )
        return out

    _DISTINCT = "SELECT role, hll_estimate(hll_sketch(conv_id)) AS est FROM turns GROUP BY role"

    def run(self, spark, data: str, work: str) -> dict:
        turns = read_transcripts(spark, os.path.join(data, "turns"), fmt="parquet")
        states = sketch_grouped_jvm(self._features(turns), "text_len", self.groups, ALPHA, M)
        path = os.path.join(work, "state_table")
        states.write.mode("overwrite").parquet(path)
        saved = spark.read.parquet(path)
        dash = quantile_table(saved, self.groups, QS, extra_cols=["n"]).collect()
        saved.createOrReplaceTempView("udd_states")
        out = self._regroups(spark)
        turns.createOrReplaceTempView("turns")
        distinct = spark.sql(self._DISTINCT).collect()
        out["distinct"] = _unique(((r["role"],), r["est"]) for r in distinct)
        out["dashboard"] = _table_rows(dash, self.groups)
        return out

    def run_traced(self, spark, data: str, work: str, tr) -> dict:
        turns, _ = tr.materialize("sources.read_transcripts", lambda: read_transcripts(
            spark, os.path.join(data, "turns"), fmt="parquet"))
        feats = self._features(turns)
        buckets, n_buckets = tr.materialize("agg.udds_bucket_counts", lambda: (
            udds_bucket_counts(feats, "text_len", self.groups, ALPHA)))
        states, n_groups = tr.materialize("agg.udds_states_from_buckets", lambda: (
            udds_states_from_buckets(buckets, self.groups, ALPHA, M)))
        path = os.path.join(work, "state_table")
        with tr.span("state_write"):
            states.write.mode("overwrite").parquet(path)
        saved = spark.read.parquet(path)
        table, _ = tr.materialize("agg.quantile_table", lambda: (
            quantile_table(saved, self.groups, QS, extra_cols=["n"])))
        dash = table.collect()
        saved.createOrReplaceTempView("udd_states")
        with tr.span("sqlfns.regroup"):
            out = self._regroups(spark)
        turns.createOrReplaceTempView("turns")
        with tr.span("sqlfns.fill"):
            distinct = spark.sql(self._DISTINCT).collect()
        out["distinct"] = _unique(((r["role"],), r["est"]) for r in distinct)
        out["dashboard"] = _table_rows(dash, self.groups)
        tr.add("agg.bucket_rows", n_buckets)
        tr.add("agg.groups", n_groups)
        # every state row enters a keyed merge once per SQL regroup
        tr.add("agg.partial_rows", 2 * n_groups)
        tr.add("agg.state_mb", _state_mb(saved))
        return out

    def check(self, out: dict, truth: dict) -> Check:
        c = Check()
        for part in ("dashboard", "by_role", "by_hour"):
            c.quantiles(part, out[part], truth[part])
        c.distinct("distinct conv_id", out["distinct"], truth["distinct"])
        return c


def _ids(curated) -> set:
    ids = [r[0] for r in curated.select("doc_id").collect()]
    if len(set(ids)) != len(ids):
        raise ValueError("a document survived twice")
    return set(ids)


class NearDupCuration:
    """Document curation: normalize, exact dedup, minhash near-dup dedup,
    quality filter. Signatures come back from Python workers and are
    banded into a self-join; no sketch layer runs."""

    name = "near_dup_curation"
    n_base = 400
    vocab = 4_000
    num_perm = 64
    bands = 8
    threshold = 0.9  # curate_documents' default Jaccard threshold

    def _documents(self, seed: int):
        """Base documents plus three kinds of planted variants, each of a
        disjoint random subset of the base documents (ids after the base):
        one-word edits (near-duplicates, Jaccard ~0.98, must be removed),
        formatting-perturbed copies (exact after normalization, must be
        removed) and 20%-rewritten relatives (Jaccard ~0.55, must survive;
        some become LSH candidates that the threshold rejects)."""
        rng = np.random.default_rng([seed, 0xD0C])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = ["".join(rng.choice(letters, int(k))) for k in rng.integers(3, 10, self.vocab)]
        p = 1.0 / (np.arange(self.vocab) + 20.0)
        p /= p.sum()
        base = [rng.choice(self.vocab, int(k), p=p) for k in rng.integers(150, 300, self.n_base)]

        def text(words):
            return " ".join(vocab[w] for w in words)

        texts = [text(d) for d in base]
        picks = rng.permutation(self.n_base)
        n_near, n_copy, n_rel = (int(self.n_base * f) for f in (0.15, 0.10, 0.10))
        near_ids = []
        for i in picks[:n_near]:
            d = base[i].copy()
            pos = rng.integers(d.size)
            d[pos] = (d[pos] + 1 + rng.integers(self.vocab - 1)) % self.vocab
            near_ids.append(len(texts))
            texts.append(text(d))
        for i in picks[n_near:n_near + n_copy]:
            words = texts[i].split(" ")
            for pos in rng.choice(len(words), 12, replace=False):
                words[pos] = words[pos].capitalize() + rng.choice([",", ".", ";", "  "])
            texts.append("  " + " ".join(words) + "!\n")
        for i in picks[n_near + n_copy:n_near + n_copy + n_rel]:
            d = base[i].copy()
            pos = rng.choice(d.size, d.size // 5, replace=False)
            d[pos] = rng.integers(self.vocab, size=pos.size)
            texts.append(text(d))
        return texts, near_ids

    def generate(self, con, seed: int, data: str) -> int:
        texts, near_ids = self._documents(seed)
        os.makedirs(os.path.join(data, "docs"), exist_ok=True)
        ids = np.arange(len(texts), dtype=np.int64)
        for part in range(FILES):
            sel = ids[part::FILES]
            pq.write_table(
                pa.table({"doc_id": sel, "text": [texts[i] for i in sel]}),
                os.path.join(data, "docs", f"part-{part}.parquet"),
            )
        pq.write_table(pa.table({"doc_id": np.array(near_ids, dtype=np.int64)}),
                       os.path.join(data, "planted_near_dups.parquet"))
        return len(texts)

    def oracle(self, con, data: str) -> dict:
        """Survivors: min id per normalized text (normalization as
        ops.text.normalize_text specifies it), minus the planted
        near-duplicates. The generator plants no other similarity above
        the threshold, and every document passes the quality stage."""
        norm = ("trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'), "
                "'\\s+', ' ', 'g'))")
        exact = {r[0] for r in con.execute(
            f"SELECT min(doc_id) FROM read_parquet('{data}/docs/*.parquet') GROUP BY md5({norm})"
        ).fetchall()}
        near = {r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{data}/planted_near_dups.parquet')").fetchall()}
        return {"survivors": exact - near, "near_dups": near}

    def prepare(self, spark, data: str) -> None:
        pass

    def _docs(self, spark, data: str):
        return spark.read.parquet(os.path.join(data, "docs"))

    def run(self, spark, data: str, work: str) -> dict:
        curated, _ = curate_documents(self._docs(spark, data), fuzzy=True,
                                      num_perm=self.num_perm, bands=self.bands,
                                      jaccard_threshold=self.threshold, with_stats=False)
        return {"survivors": _ids(curated)}

    def run_traced(self, spark, data: str, work: str, tr) -> dict:
        docs = self._docs(spark, data)
        exact, _ = tr.materialize("text.normalize_exact", lambda: exact_dedup(
            docs.withColumn("_tnorm", normalize_text("text")), "_tnorm", "doc_id"))
        sigs, n_sigs = tr.materialize("dedup.minhash_signatures", lambda: minhash_signatures(
            exact.select("doc_id", F.col("_tnorm").alias("text")), num_perm=self.num_perm))
        cands, n_cands = tr.materialize("dedup.lsh_candidate_pairs", lambda: lsh_candidate_pairs(
            sigs, "doc_id", self.bands, num_perm=self.num_perm))
        pairs = cands.where(F.col("est_jaccard") >= self.threshold).select("a", "b")
        n_pairs = pairs.count()
        survivors, _ = tr.materialize("dedup.dedup_survivors", lambda: dedup_survivors(
            exact, pairs, "doc_id"))
        release_cached(cands)
        curated = with_quality_score(survivors, "text").where(F.col("quality") >= 0.5)
        tr.add("dedup.candidate_pairs", n_cands)
        tr.add("dedup.signature_mb", n_sigs * self.num_perm * 8 / 1e6)
        tr.add("dedup.pair_yield", n_pairs / n_cands if n_cands else 0.0)
        return {"survivors": _ids(curated)}

    def check(self, out: dict, truth: dict) -> Check:
        c = Check()
        got, want = out["survivors"], truth["survivors"]
        near = truth["near_dups"]
        c.recall = len(near - got) / len(near)
        if got != want:
            c.fail(f"survivors: {len(got - want)} unexpected, {len(want - got)} missing")
        return c


WORKLOADS = {w.name: w for w in (FlagshipQuantiles(), StateRollup(), NearDupCuration())}
