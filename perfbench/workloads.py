"""The benchmark workloads.

Each workload has an untraced iteration (what a user runs) and a traced
iteration that calls the same layers one by one, each inside a span, and
materializes every layer's output at its boundary so that lazy work lands
in the layer that defines it. Both return the same output digests.
"""

from __future__ import annotations

import hashlib
import os

NPROC = len(os.sched_getaffinity(0))  # the vCPUs this process may use

# Layers of the program, in the order the tables of BENCHMARK.json use.
LAYERS = (
    "session", "scan", "taxonomy", "filters", "pipeline", "dietml", "shap",
    "sinks", "dedup", "tokens", "asof", "windows", "checkpointing",
)
EXTRA_METRICS = (
    ("scan.input_mb", "MB"),
    ("checkpointing.output_mb", "MB"),
    ("checkpointing.jobs_per_write", "count"),
    ("dedup.kept_frac", "ratio"),
)


def _digest_csv_dir(path: str) -> str:
    """Order-insensitive digest of a Spark CSV output directory: the header
    plus the sorted data lines of every part file."""
    header, lines = None, []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name)) as f:
                part = f.read().splitlines()
            if part:
                header = part[0]
                lines.extend(part[1:])
    h = hashlib.sha256((header or "").encode())
    for line in sorted(lines):
        h.update(b"\n" + line.encode())
    return h.hexdigest()[:16]


def _digest_file(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _digest_parquet(spark, path: str) -> str:
    """Order-insensitive digest of a parquet directory, computed in the
    JVM: row count, xor and 32-bit sum of a per-row xxhash64."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    r = (
        df.select(F.xxhash64(*cols).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor("h").alias("x"),
            F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
        )
        .first()
    )
    return f"{r['n']}:{r['x'] & (2**64 - 1):016x}:{r['s']}"


def _persisted_count(df):
    df = df.persist()
    return df, df.count()


class HfeMlWorkload:
    """The flagship ``run-hfe-ml --shap`` on an F1/F2-shaped generated
    matrix, through ``cli.main(argv, spark=...)``. At this size every size
    gate picks the driver path."""

    name = "hfe_ml_shap"
    # the program's own seed (RF, split, SHAP draws) is fixed: the bench
    # seed varies the data only
    CLI_SEED = 1234
    TUNE_LENGTH = 2
    # fewest warm iterations per run; one is all the run length allows
    # after a 20-30 s cold iteration
    MIN_WARM = 1
    # --tune_stop above --tune_length and a --tune_time that never binds:
    # every run evaluates all candidates (checked in digest). --info_gain_n
    # fixes how many features dietML and SHAP see: SHAP's cost is linear in
    # it, and the number of winners the competition leaves varies by seed
    CLI = ["--shap", "--nperm", "2", "--folds", "2", "--cv_repeats", "1",
           "--tune_length", str(TUNE_LENGTH), "--tune_stop", "10",
           "--tune_time", "60", "--parallel_workers", "1", "--info_gain_n", "4"]

    # placement check of the traced run: the driver-path rollup runs a
    # fixed handful of jobs per call (6 on this input); the distributed
    # level chain adds a localCheckpoint job for each of the tree's 7
    # levels, so more jobs than this per call means the level chain ran
    ROLLUP_MAX_JOBS_PER_CALL = 8

    def __init__(self, size: dict):
        self.gen = ("hfe_matrix", size)

    def register(self, spark, paths: dict) -> None:
        for view in ("metadata", "data"):
            spark.read.option("header", True).option("sep", "\t").csv(
                paths[view]
            ).createOrReplaceTempView(f"hfe_{view}")

    def argv(self, paths: dict, out: str) -> list[str]:
        return ["run-hfe-ml", paths["metadata"], paths["data"], "-o", out,
                "--seed", str(self.CLI_SEED), "-n", str(NPROC), *self.CLI]

    def run(self, spark, paths: dict, out: str):
        """One CLI invocation; returns the DietMLResult it produced."""
        from taxahfe_spark import cli, dietml

        captured = {}
        orig = dietml.run_dietml

        def capture(*a, **kw):
            captured["res"] = orig(*a, **kw)
            return captured["res"]

        dietml.run_dietml = capture  # cli imports it at call time
        try:
            cli.main(self.argv(paths, out), spark=spark)
        finally:
            dietml.run_dietml = orig
        return captured.get("res")

    def digest(self, spark, out: str, res) -> dict:
        ml = os.path.join(out, "ml_analysis")
        return {
            "winner_matrix": _digest_csv_dir(os.path.join(out, "train"))
            + "/" + _digest_csv_dir(os.path.join(out, "test")),
            "ml_results": _digest_file(os.path.join(ml, "ml_results.csv")),
            "shap_ranking": _digest_file(os.path.join(ml, "shap_ranking.csv")),
            "dietml_features": None if res is None else len(res.recipe.keep_cols),
            # a tuning loop stopped by --tune_time evaluates fewer
            # candidates than --tune_length: the run is then incomplete
            "_tuning_complete": res is not None and len(res.cv_results) == self.TUNE_LENGTH,
        }

    def run_traced(self, spark, paths: dict, out: str, tracer):
        """The CLI's sequence, one public call per span. Returns the
        DietMLResult and the probes: calls the CLI does not make (dietML
        without SHAP, the standalone filter operator), timed after the
        iteration."""
        from pyspark.sql import functions as F

        from taxahfe_spark import cli, ml as ml_mod
        from taxahfe_spark.dietml import (
            append_dummy_results_csv,
            append_results_csv,
            run_dietml,
            write_raw_predictions_csv,
        )
        from taxahfe_spark.functions.beeswarm import beeswarm_svg
        from taxahfe_spark.operators.filters import feature_filter_flags
        from taxahfe_spark.pipeline import (
            read_hierarchical_data,
            read_metadata,
            write_output_file,
        )
        from taxahfe_spark.taxonomy import melt_wide_matrix

        opts = cli.load_args(self.argv(paths, out))
        with tracer.span("scan") as fr:
            meta = read_metadata(
                spark, opts.METADATA, subject_identifier=opts.subject_identifier,
                label=opts.label, limit_covariates=True, feature_type=opts.feature_type,
            )
            meta, fr["rows"] = _persisted_count(meta)
        with tracer.span("scan") as fr:
            long = melt_wide_matrix(read_hierarchical_data(spark, opts.DATA, validate_na=True))
            long, fr["rows"] = _persisted_count(long)
        # keep the training tree that taxa_hfe_ml builds, for the filter probe
        taxa_hfe, trees = ml_mod.taxa_hfe, []
        ml_mod.taxa_hfe = lambda *a, **kw: trees.append(taxa_hfe(*a, **kw)) or trees[-1]
        try:
            with tracer.span("pipeline") as fr:
                train_m, test_m, _state = ml_mod.taxa_hfe_ml(
                    meta, long, params=cli._hfe_params(opts),
                    filter_prevalence=opts.prevalence,
                    filter_mean_abundance=opts.abundance,
                    train_frac=opts.train_split, seed=opts.seed,
                    k_splits=int(opts.k_splits),
                )
                train_m, n_tr = _persisted_count(train_m)
                test_m, n_te = _persisted_count(test_m)
                fr["rows"] = n_tr + n_te
        finally:
            ml_mod.taxa_hfe = taxa_hfe
        with tracer.span("sinks"):
            write_output_file(train_m, os.path.join(out, "train"))
            write_output_file(test_m, os.path.join(out, "test"))
        full = train_m.withColumn("is_train", F.lit(True)).unionByName(
            test_m.withColumn("is_train", F.lit(False))
        )
        kw = cli._dietml_kwargs(opts)
        with tracer.span("shap") as fr:
            res = run_dietml(full, split_col="is_train", **kw)
            fr["rows"] = len(res.shap_ranking)
        ml = os.path.join(out, "ml_analysis")
        with tracer.span("sinks"):
            append_results_csv(res, os.path.join(ml, "ml_results.csv"), seed=opts.seed, program="taxaHFE-ML")
            write_raw_predictions_csv(res, os.path.join(ml, "raw_predictions.csv"))
            append_dummy_results_csv(res, os.path.join(ml, "dummy_model_results.csv"), seed=opts.seed)
            res.shap_ranking.to_csv(os.path.join(ml, "shap_ranking.csv"), index=False)
            with open(os.path.join(ml, "shap_beeswarm.svg"), "w") as f:
                f.write(beeswarm_svg(res.shap_values, res.shap_inputs, res.recipe.keep_cols))

        def dietml_probe():
            # the same dietML run without SHAP: its figures are the dietml
            # layer and are taken off the SHAP span
            with tracer.span("dietml") as fr:
                r = run_dietml(full, split_col="is_train", **{**kw, "shap": False})
                fr["rows"] = len(r.raw_predictions)

        resolved = trees[0][0]
        n_entities = len(resolved._taxahfe_entities)

        def filters_probe():
            # the CLI derives its filter flags inside taxa_hfe; this is the
            # standalone filter operator on the same training tree, whose
            # local relation is built before the span
            frame = resolved._materialize() if hasattr(resolved, "_materialize") else resolved
            with tracer.span("filters") as fr:
                fr["rows"] = feature_filter_flags(
                    frame, n_entities, opts.prevalence, opts.abundance
                ).count()

        return res, [("dietml", "shap", dietml_probe), ("filters", None, filters_probe)]

    def oracle(self, spark, paths: dict, out: str) -> tuple[bool, str]:
        """Rollup of the full input through ``hierarchical_rollup`` against
        the independent pandas rollup of tests/oracle_collapse.py."""
        import numpy as np
        import oracle_collapse as oc
        import pandas as pd

        from taxahfe_spark.pipeline import read_hierarchical_data
        from taxahfe_spark.taxonomy import hierarchical_rollup, melt_wide_matrix

        wide = pd.read_csv(paths["data"], sep="\t", float_precision="round_trip")
        long_pdf = wide.melt(id_vars="clade_name", var_name="entity_id", value_name="value")
        entities = sorted(set(long_pdf["entity_id"]))
        want = oc.rollup(
            pd.DataFrame({
                "path": long_pdf["clade_name"].map(oc.clean_path),
                "entity_id": long_pdf["entity_id"],
                "value": long_pdf["value"].astype(float),
            }),
            entities,
        )
        got_pdf = hierarchical_rollup(
            melt_wide_matrix(read_hierarchical_data(spark, paths["data"]))
        ).toPandas()
        eidx = {e: i for i, e in enumerate(entities)}
        got = {}
        for path, grp in got_pdf.groupby("path"):
            v = np.zeros(len(entities))
            v[[eidx[e] for e in grp["entity_id"]]] = grp["value"].to_numpy(float)
            got[path] = v
        if set(got) != set(want):
            return False, f"rollup node sets differ: {len(set(got) ^ set(want))} nodes"
        bad = [p for p in want if not np.allclose(got[p], want[p], rtol=1e-9, atol=1e-12)]
        return not bad, f"rollup {len(want)} nodes x {len(entities)} entities, {len(bad)} differ"

    def corrupt(self, out: str) -> None:
        with open(os.path.join(out, "ml_analysis", "ml_results.csv"), "a") as f:
            f.write("corrupted,row\n")


class PitWorkload:
    """Data-prep pipeline over a pre-tokenized table: read -> MinHash
    near-dup removal -> exact sequence dedup -> point-in-time token
    features against versioned taxonomy snapshots -> as-of join, sessions,
    lag/lead and LOCF per source -> stage checkpoints (parquet)."""

    name = "pit_pipeline"
    SESSION_GAP_S = 3600.0
    ROLLUP_MAX_JOBS_PER_CALL = None  # the pipeline runs no rollup
    MIN_WARM = 2  # fewest warm iterations per run

    def __init__(self, size: dict):
        self.gen = ("pit_tables", size)

    def register(self, spark, paths: dict) -> None:
        for view, path in paths.items():
            spark.read.parquet(path).createOrReplaceTempView(f"pit_{view}")

    def _stages(self, spark, paths: dict, out: str, span, mat):
        """The pipeline, with ``span(layer)`` around each layer and
        ``mat(df)`` applied at each boundary (identity when untraced)."""
        from taxahfe_spark.checkpointing import StageCheckpointer
        from taxahfe_spark.operators.asof import asof_join
        from taxahfe_spark.operators.dedup import minhash_dedup
        from taxahfe_spark.operators.windows import lag_lead_features, locf, sessionize
        from taxahfe_spark.sources.readers import read_tokenized_sequences
        from taxahfe_spark.tokens import dedup_sequences, point_in_time_token_features

        ck = StageCheckpointer(spark, os.path.join(out, "ckpt"), "run")
        with span("scan") as fr:
            docs = mat(read_tokenized_sequences(spark, paths["docs"]), fr)
            snaps = mat(spark.read.parquet(paths["snapshots"]), fr)
            quality = mat(spark.read.parquet(paths["quality"]), fr)
        with span("dedup") as fr:
            near = mat(minhash_dedup(docs, text_col="text", id_col="doc_id", threshold=0.8), fr)
        with span("dedup") as fr:
            kept = mat(dedup_sequences(near), fr)
        with span("checkpointing"):
            kept = ck.checkpoint(kept.drop("text"), "dedup", partition_by=["source"])
        with span("tokens") as fr:
            pit = mat(point_in_time_token_features(kept.select("doc_id", "ts", "tokens"), snaps), fr)
        with span("checkpointing"):
            ck.checkpoint(pit, "pit_features", partition_by=["level"])
        events = kept.select("doc_id", "source", "ts", "n_tok")
        with span("asof") as fr:
            ev = mat(asof_join(events, quality, on="source", left_ts="ts", right_ts="q_ts", value_cols=["quality"]), fr)
        with span("windows") as fr:
            w = sessionize(ev, "source", "ts", self.SESSION_GAP_S, tiebreak="doc_id")
            w = lag_lead_features(w, "source", "ts", ["n_tok"], tiebreak="doc_id")
            w = locf(w, "source", "ts", ["quality"], tiebreak="doc_id")
            w = mat(w, fr)
        with span("checkpointing"):
            ck.checkpoint(w, "doc_features", partition_by=["source"])
        return ck

    def run(self, spark, paths: dict, out: str):
        from contextlib import nullcontext

        self._stages(spark, paths, out, lambda layer: nullcontext({}), lambda df, fr: df)

    def run_traced(self, spark, paths: dict, out: str, tracer):
        persisted, counts = [], []

        def mat(df, fr):
            df, n = _persisted_count(df)
            persisted.append(df)
            counts.append(n)
            fr["rows"] = (fr.get("rows") or 0) + n
            return df

        ck = self._stages(spark, paths, out, tracer.span, mat)
        manifests = ck.lineage()
        written = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(ck.base)
            for f in files if f.endswith(".parquet")
        )
        tracer.extra["checkpointing.output_mb"] = written / 2**20
        tracer.extra["checkpointing.jobs_per_write"] = (
            tracer.layers["checkpointing"]["jobs"] / len(manifests)
        )
        tracer.layers["checkpointing"]["rows_out"] = sum(m["rows"] for m in manifests)
        # rows kept by both dedup passes over rows read (counts[0]: docs,
        # counts[4]: after exact dedup; see _stages)
        tracer.extra["dedup.kept_frac"] = counts[4] / counts[0]
        for df in persisted:
            df.unpersist()
        return None, []

    def digest(self, spark, out: str, ctx) -> dict:
        base = os.path.join(out, "ckpt", "run")
        return {
            stage: _digest_parquet(spark, os.path.join(base, stage, "data"))
            for stage in ("dedup", "pit_features", "doc_features")
        }

    def oracle(self, spark, paths: dict, out: str) -> tuple[bool, str]:
        """DuckDB replays exact dedup and the point-in-time counts from the
        checkpointed stages of the last iteration."""
        import duckdb

        base = os.path.join(out, "ckpt", "run")
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            con.execute(f"CREATE VIEW kept AS SELECT * FROM read_parquet('{base}/dedup/data/**/*.parquet', hive_partitioning=true)")
            con.execute(f"CREATE VIEW snaps AS SELECT * FROM read_parquet('{paths['snapshots']}')")
            con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{paths['docs']}')")
            # exact dedup: kept rows hold pairwise-distinct token arrays
            dup_left = con.execute(
                "SELECT count(*) - count(DISTINCT tokens) FROM kept"
            ).fetchone()[0]
            pit_sql = """
                WITH tagged AS (
                  SELECT k.doc_id, k.ts, k.tokens,
                         (SELECT max(snapshot_ts) FROM snaps s WHERE s.snapshot_ts <= k.ts) AS v
                  FROM kept k
                ), tok AS (
                  SELECT doc_id, ts, v, unnest(tokens) AS token_id FROM tagged WHERE v IS NOT NULL
                ), leaf AS (
                  SELECT t.doc_id, t.ts, s.clade_path
                  FROM tok t JOIN snaps s ON s.snapshot_ts = t.v AND s.token_id = t.token_id
                ), lv AS (
                  SELECT doc_id, ts, clade_path,
                         unnest(generate_series(1, len(string_split(clade_path, '|')))) AS lvl
                  FROM leaf
                ), anc AS (
                  SELECT doc_id, ts, array_to_string(string_split(clade_path, '|')[1:lvl], '|') AS path, lvl AS level
                  FROM lv
                )
                SELECT doc_id, ts, path, level, count(*)::DOUBLE AS value
                FROM anc GROUP BY ALL
            """
            want = con.execute(
                f"SELECT count(*), sum(value), sum(hash(doc_id, ts, path, level, value)) FROM ({pit_sql})"
            ).fetchone()
            got = con.execute(
                f"SELECT count(*), sum(value), sum(hash(doc_id, ts, path, level::BIGINT, value)) "
                f"FROM read_parquet('{base}/pit_features/data/**/*.parquet', hive_partitioning=true)"
            ).fetchone()
            # the table's own n_tok == size(tokens) contract
            bad_ntok = con.execute("SELECT count(*) FROM docs WHERE n_tok <> len(tokens)").fetchone()[0]
        finally:
            con.close()
        ok = dup_left == 0 and bad_ntok == 0 and tuple(want) == tuple(got)
        return ok, (
            f"pit rows/sum/hash duckdb={tuple(want)} spark={tuple(got)}; "
            f"duplicate token arrays left={dup_left}; n_tok mismatches={bad_ntok}"
        )

    def corrupt(self, out: str) -> None:
        part = os.path.join(out, "ckpt", "run", "pit_features", "data")
        victim = sorted(
            os.path.join(root, f) for root, _d, files in os.walk(part)
            for f in files if f.endswith(".parquet")
        )[0]
        os.remove(victim)


def make(name: str, size: str):
    """Workload ``name`` at ``size`` ("bench" or "tiny")."""
    if name == "hfe_ml_shap":
        return HfeMlWorkload(
            dict(bench=dict(n_features=240, n_samples=96),
                 tiny=dict(n_features=60, n_samples=40))[size]
        )
    if name == "pit_pipeline":
        return PitWorkload(dict(bench=dict(n_docs=2000), tiny=dict(n_docs=600))[size])
    raise ValueError(f"unknown workload {name!r}")
