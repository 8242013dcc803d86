"""The three workloads: what each generates, runs per pass, and checks.

Each is one closed-loop client: the harness's single thread issues the
ops of a pass one after another in one Spark session.  Only
``ingest_release`` and ``analyst_queries`` are in BENCHMARK.json; a
``dedup_corpus`` run takes about twice as long and is run by hand.

- ``ingest_release``: the paper's own pipeline.  Each pass runs
  ``orchestrator.update(force=True)`` over one synthetic CAL-ACCESS
  release into the same lake.  Write-heavy, with a per-table fixed
  cost and a per-row cost; touches no query builder and no ``ops``.
- ``analyst_queries``: a fixed mix of registry ids over one star
  schema, repeated in one long-lived session; the seed permutes the
  order within each pass.  Read-only and bound by plan building in
  the Spark driver process; after warm-up the session memos hit.
- ``dedup_corpus``: LLM-pipeline ops over a corpus no earlier pass has
  seen (a fresh directory per pass), so every session memo misses —
  the cold path a pipeline user pays on each new crawl.
"""

from __future__ import annotations

import math
import traceback
from collections import Counter
from pathlib import Path

import numpy as np

import gen_release
import gen_star


def _canon_rows(tbl) -> tuple[list[str], dict[str, str], list[tuple]]:
    import pyarrow as pa

    def canon_type(t):
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_timestamp(t):
            return f"timestamp[{t.unit}]"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return f"list<{canon_type(t.value_type)}>"
        return str(t)

    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v if v is None or isinstance(v, (int, float, str)) else str(v)

    names = sorted(tbl.column_names)
    types = {f.name: canon_type(f.type) for f in tbl.schema}
    cols = [tbl.column(c).to_pylist() for c in names]
    rows = sorted((tuple(norm(c[i]) for c in cols) for i in range(tbl.num_rows)), key=repr)
    return names, types, rows


def compare_exact(got, want) -> str | None:
    """None when two Arrow tables hold the same rows (any order) with the
    same column names and logical types; otherwise what differs."""
    g, w = _canon_rows(got), _canon_rows(want)
    if g[0] != w[0]:
        return f"columns {g[0]} != {w[0]}"
    if g[1] != w[1]:
        return f"types {g[1]} != {w[1]}"
    if len(g[2]) != len(w[2]):
        return f"{len(g[2])} rows != {len(w[2])}"
    for a, b in zip(g[2], w[2]):
        if a != b:
            return f"first differing row {a} != {b}"
    return None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------- queries


class _QueryWorkload:
    """A workload whose ops are registry builders run to the noop sink."""

    ops_are_queries = True
    #: Passes run inside setup_s before timing starts: the cold one
    #: (JIT, codegen, memo fills: 3-4x a warm pass) and one more.  On a
    #: 4-core host the analyst passes after the cold one read 10.5, 8.8,
    #: 7.5, 7.7, 7.3, 7.1 ... s: the JIT is still compiling through the
    #: first warm pass, and how fast it settles differs from run to run,
    #: so timing starts on the plateau after it.
    WARMUP_PASSES = 2

    def __init__(self, work: Path, seed: int, smoke: bool):
        self.work, self.seed, self.smoke = work, seed, smoke

    def build(self, spark, qid: str, pass_no: int):
        from calaspark.queries import QUERIES

        return QUERIES[qid](spark, self.pass_dir(pass_no))

    execute = staticmethod(_noop)

    def check(self, qid: str, tbl) -> str | None:
        return _CORPUS_CHECKS[qid](tbl, self.corpus)


class AnalystQueries(_QueryWorkload):
    name = "analyst_queries"
    #: Seventeen oracled relational ids (filter, sort, aggregation,
    #: multiway join, latest-per-key, monthly rollup, grouping sets,
    #: Cohen's kappa, ...) plus one LLM-pipeline op for three of the
    #: traced ``ops`` layers: lsh (ngram_neardup), semdedup and
    #: components (semdedup_clusters), ann (ann_ivf_topk).  Their session
    #: memos hit after warm-up (they miss on every pass of dedup_corpus),
    #: but each still calls its ``ops`` entry points on every pass.
    #: bpe_train_merges is left to dedup_corpus: ~2.8 s warm and ~5 s
    #: cold, it does not fit the run's time budget.  Twenty ids, so that
    #: two timed passes pool 40 op samples and op_tail_s is a p75 with
    #: ten samples beyond it.
    MIX = [
        "q01", "q02", "q03", "q04", "q05", "q06", "q07", "q09", "q10",
        "q13_latest", "q15", "q18", "q19", "q22", "q25_monthly", "q44",
        "q152", "ngram_neardup", "semdedup_clusters", "ann_ivf_topk",
    ]
    SCALE = 0.01
    NOMINAL_PASS_S = 8.0
    N_DOCS, N_VECS = 500, 500

    def generate(self) -> dict:
        import duckdb

        from calaspark.oracles import ORACLES

        d = self.work / "star"
        rows = gen_star.star_tables(d, self.seed, 0.001 if self.smoke else self.SCALE)
        self.corpus = gen_star.base_corpus(self.seed, self.N_DOCS, self.N_VECS)
        self.corpus.write(d)
        con = duckdb.connect()
        for p in sorted(d.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        self.expected = {
            q: con.execute(ORACLES[q]).fetch_arrow_table() for q in self.MIX if q in ORACLES
        }
        con.close()
        self.input_rows = sum(rows.values()) + self.N_DOCS + self.N_VECS
        return {"tables": rows, "oracled": sorted(self.expected)}

    def pass_dir(self, pass_no: int) -> str:
        return str(self.work / "star")

    def pass_ops(self, pass_no: int) -> list[str]:
        rng = np.random.default_rng([self.seed, 4, pass_no])
        return [self.MIX[i] for i in rng.permutation(len(self.MIX))]

    def prepare_pass(self, pass_no: int) -> None:
        pass

    def check(self, qid: str, tbl) -> str | None:
        if qid in self.expected:
            return compare_exact(tbl, self.expected[qid])
        return super().check(qid, tbl)


class DedupCorpus(_QueryWorkload):
    name = "dedup_corpus"
    #: One op per traced ops layer (lsh + components, semdedup, ann,
    #: bpe) plus shingle near-dup and exactly-checkable TF-IDF.  Each
    #: keeps session memos keyed by the corpus, which a fresh corpus
    #: misses.
    MIX = [
        "dedup_clusters_lsh", "semdedup_clusters", "ann_ivf_topk",
        "bpe_train_merges", "ngram_neardup", "tfidf_topterms",
    ]
    NOMINAL_PASS_S = 16.0
    N_DOCS, N_VECS = 500, 500

    def generate(self) -> dict:
        n_docs, n_vecs = (100, 100) if self.smoke else (self.N_DOCS, self.N_VECS)
        self.base = gen_star.base_corpus(self.seed, n_docs, n_vecs)
        self.input_rows = n_docs + n_vecs
        return {"documents": n_docs, "embeddings": n_vecs}

    def prepare_pass(self, pass_no: int) -> None:
        self.corpus = gen_star.corpus_variant(self.base, self.seed, pass_no)
        self.corpus.write(self.pass_dir(pass_no))

    def pass_dir(self, pass_no: int) -> str:
        return str(self.work / f"corpus-{pass_no}")

    def pass_ops(self, pass_no: int) -> list[str]:
        return list(self.MIX)


def _check_semdedup(tbl, corpus) -> str | None:
    n_vecs = len(corpus.vectors)
    rows = tbl.to_pylist()
    if sum(r["n_vecs"] for r in rows) != 2 * n_vecs:  # every vector + its twin
        return f"n_vecs sum {sum(r['n_vecs'] for r in rows)} != {2 * n_vecs}"
    bad = [r for r in rows if r["n_kept"] + r["n_dropped"] != r["n_vecs"]]
    return f"kept + dropped != vecs in {bad[:2]}" if bad else None


def _check_pairs(tbl, corpus) -> str | None:
    rows = tbl.to_pylist()
    bad = [
        r for r in rows
        if r["id_a"] >= r["id_b"] or not 0 < r["n_inter"] <= r["n_union"]
        or abs(r["sim"] - r["n_inter"] / r["n_union"]) > 1e-4
    ]
    return f"{len(rows)} pairs, malformed {bad[:2]}" if bad or not rows else None


def _check_clusters(tbl, corpus) -> str | None:
    """Top-20 clusters by size: one survivor each, sizes descending, and
    the planted near-duplicates make the largest hold at least two."""
    rows = tbl.to_pylist()
    sizes = [r["n_docs"] for r in rows]
    bad = [r for r in rows if r["n_kept"] != 1]
    if not rows or bad or sizes != sorted(sizes, reverse=True) or sizes[0] < 2:
        return f"clusters {rows[:3]} (one survivor each expected: {bad[:2]})"
    if sum(sizes) > len(corpus.tokens):
        return f"{sum(sizes)} clustered docs > {len(corpus.tokens)}"
    return None


def _check_ann_topk(tbl, corpus) -> str | None:
    rows = tbl.to_pylist()
    sims = [r["sim"] for r in rows]
    if len(rows) != 10 or sims != sorted(sims, reverse=True):
        return f"top-k {rows[:3]}"
    # the probe's nearest neighbour is itself, found in its own cell
    if rows[0]["vec_id"] != 0 or abs(rows[0]["sim"] - 1.0) > 1e-3:
        return f"probe not its own nearest neighbour: {rows[0]}"
    return None


def _check_bpe(tbl, corpus) -> str | None:
    rounds = sorted(r["merge_round"] for r in tbl.to_pylist())
    if rounds != list(range(1, len(rounds) + 1)) or not rounds:
        return f"merge rounds {rounds}"
    return None


def _check_tfidf(tbl, corpus) -> str | None:
    """tf and df must be exact; the top-20 must match a Python ranking."""
    n = len(corpus.tokens)
    df = Counter(t for toks in corpus.tokens for t in set(toks))
    tf = [Counter(toks) for toks in corpus.tokens]
    rows = tbl.to_pylist()
    for r in rows:
        if tf[r["doc_id"]][r["term"]] != r["tf"] or df[r["term"]] != r["df"]:
            return f"tf/df mismatch at {r}"
    want = sorted(
        round(c * math.log(n / df[t]), 6) for counts in tf for t, c in counts.items()
    )[-len(rows):][::-1]
    got = [r["tfidf"] for r in rows]
    if len(rows) != 20 or any(abs(a - b) > 1e-5 for a, b in zip(got, want)):
        return f"top tfidf {got[:3]} != {want[:3]}"
    return None


#: Output checks of the corpus ops (rows-only ids: no DuckDB oracle).
_CORPUS_CHECKS = {
    "dedup_clusters_lsh": _check_clusters,
    "semdedup_clusters": _check_semdedup,
    "ann_ivf_topk": _check_ann_topk,
    "bpe_train_merges": _check_bpe,
    "ngram_neardup": _check_pairs,
    "tfidf_topterms": _check_tfidf,
}


# -------------------------------------------------------------- ingest


class IngestRelease:
    name = "ingest_release"
    ops_are_queries = False
    #: Release shape: gen_release's largest itemization table plus three
    #: narrow tables of the registry's median width (8-9 columns), at
    #: this many total and narrow-table rows.  The table list is fixed;
    #: the seed changes only the content.  RCPT_CD (63 columns, 14.4 k
    #: rows) carries the per-row cost: on a 4-core host it loads in
    #: ~4.4 s against ~0.75 s for a 300-row narrow table (the per-table
    #: fixed cost), so per-row work is about half of a ~6.7 s pass.
    #: Three of the four ops of a pass are narrow tables, so op_p50_s
    #: is a median over the per-table fixed cost.
    TOTAL_ROWS, NARROW_ROWS = 40_000, 300
    TABLES = ["RCPT_CD", "NAMES_CD", "FILER_LINKS_CD", "HDR_CD"]
    NOMINAL_PASS_S = 6.5
    #: The cold pass takes ~2.5x a warm one, and the first warm pass is
    #: still ~10 % above the plateau: both run before timing starts.
    WARMUP_PASSES = 2

    def __init__(self, work: Path, seed: int, smoke: bool):
        self.work, self.seed, self.smoke = work, seed, smoke

    def generate(self) -> dict:
        total, narrow = (2_000, 50) if self.smoke else (self.TOTAL_ROWS, self.NARROW_ROWS)
        self.raw, self.lake = self.work / "raw", self.work / "lake"
        self.expect = gen_release.make_release(self.raw, self.seed, total, narrow, self.TABLES)
        self.input_rows = sum(e["rows"] for e in self.expect.values())
        self.input_bytes = sum(e["bytes"] for e in self.expect.values())
        return {"tables": len(self.expect), "rows": self.input_rows, "bytes": self.input_bytes}

    def prepare_pass(self, pass_no: int) -> None:
        pass

    def update(self, spark, force: bool = True):
        from calaspark.ingest import orchestrator

        return orchestrator.update(spark, str(self.raw), str(self.lake), force=force)

    def run_pass(self, spark) -> list[dict]:
        """One release load; one op per table, timed by the manifest's
        own clean-start → load-finish stamps, checked against the
        generator's exact expectation."""
        try:
            man = self.update(spark)
        except Exception as e:  # the pipeline's own V1 gate raised: the pass failed
            traceback.print_exc()
            return [{"op": n, "wall": math.nan, "error": f"update raised {e!r}"[:500]}
                    for n in self.expect]
        ops = []
        for name, exp in self.expect.items():
            rec = man.files.get(name)
            err = None
            if rec is None or rec.status != "loaded":
                err = f"status {getattr(rec, 'status', 'missing')}"
            elif (rec.n_body_lines, rec.error_count, rec.clean_count, rec.load_count) != (
                exp["rows"], exp["quarantined"], exp["good"], exp["good"]
            ):
                err = (
                    f"body/quarantine/clean/load {rec.n_body_lines}/{rec.error_count}/"
                    f"{rec.clean_count}/{rec.load_count} != {exp}"
                )
            wall = (rec.load_finish - rec.clean_start) if rec and rec.load_finish else math.nan
            ops.append({"op": name, "wall": wall, "error": err})
        return ops

    def lake_stats(self) -> dict:
        files = [p for p in self.lake.rglob("*") if p.is_file()]
        return {
            "bytes": sum(p.stat().st_size for p in files),
            "parquet_files": sum(1 for p in files if p.suffix == ".parquet"),
        }


WORKLOADS = {w.name: w for w in (IngestRelease, AnalystQueries, DedupCorpus)}
