"""The benchmark's workloads: one closed-loop client, one op at a time.

``medallion_ingest`` runs the paper's chain once per agency report drop:
PDFs → ``sources`` extraction → ``operators.normalize`` + parsing →
partitioned lake → ``warehouse.production_rows`` → ``warehouse_tx.merge``
into a production table that grows through the run. Each op's table
version is checked against the DuckDB reference pipeline.

``lakehouse_reads`` is read-only: time-travel analytics, ``snapshot_asof``,
``change_feed`` and ``snapshot_count`` over a multi-version
``population_production`` table built in set-up, plus thirteen registry
queries (relational analytics and the IVF top-k / dedup plans). Every
result is checked against oracle results computed before the window.

A workload yields its ops round by round: one round holds every op kind
once, in a seeded order, so a window's mix does not depend on the seed.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
import reference
from bow_hunter_pipeline_spark import registry, warehouse, warehouse_tx
from bow_hunter_pipeline_spark.functions.parsing import (
    parse_double,
    parse_long,
    year_from_path,
)
from bow_hunter_pipeline_spark.io.readers import read_binary_files, read_parquet_glob
from bow_hunter_pipeline_spark.io.writers import write_partitioned_parquet
from bow_hunter_pipeline_spark.operators.normalize import (
    GMU_HEADER_PATTERNS,
    SPECIES_RATIO_HEADERS,
    add_metadata,
    coalesce_candidates,
    drop_footer_rows,
    normalize_headers,
)
from bow_hunter_pipeline_spark.schema import (
    POPULATION_PRODUCTION_KEYS,
    POPULATION_PRODUCTION_SCHEMA,
    POPULATION_PRODUCTION_UPDATE_COLS,
    POPULATION_STAGE_SCHEMA,
)
from bow_hunter_pipeline_spark.sources.pdf_tables import (
    cells_to_grid,
    extract_cells,
    grid_to_table,
)


class Op:
    """One unit of client work: ``run(tracer)`` is timed, ``check(result)``
    is not; it returns None when the result is correct, else a reason.
    ``probe(result)``, if given, reports what the op wrote (traced runs)."""

    def __init__(self, kind, run, check, probe=None):
        self.kind, self.run, self.check, self.probe = kind, run, check, probe


# --- medallion_ingest -------------------------------------------------------

MAX_DROPS = 80  # more than any window reaches; the loop stops if it does
PROBE_DROPS = 40  # drops the short-page probe re-renders
LAKE_PARTITIONS = ["state", "species", "year"]


class MedallionIngest:
    name = "medallion_ingest"
    round_len = 1

    def __init__(self, run_dir: str, seed: int) -> None:
        self.run_dir, self.seed = run_dir, seed
        self.raw = os.path.join(run_dir, "raw")
        self.lake = os.path.join(run_dir, "lake")
        self.table = os.path.join(run_dir, "tables", "population_production")

    def prepare(self) -> None:
        """Inputs: render every drop's PDFs before anything is timed."""
        self.drops = datagen.population_drops(self.seed, MAX_DROPS)
        self.warm_drops = datagen.population_drops(self.seed + 1, 2, redeliver=1.0)
        self.dirs = {d.key: datagen.render_drop(d, self.raw) for d in self.drops}
        warm_raw = os.path.join(self.run_dir, "warm", "raw")
        self.warm_dirs = {d.key: datagen.render_drop(d, warm_raw) for d in self.warm_drops}

    def oracle(self) -> None:
        """The reference replays each drop when its op is checked."""
        self.ref = reference.PopulationReference()

    def setup(self, spark) -> None:
        self.spark = spark
        self._create(self.table)

    def warmup_ops(self):
        lake = os.path.join(self.run_dir, "warm", "lake")
        table = os.path.join(self.run_dir, "warm", "population_production")
        self._create(table)
        ref = reference.PopulationReference()
        # a season and its re-delivery, twice: the insert and update paths
        return [self._op(d, self.warm_dirs[d.key], lake, table, ref)
                for d in self.warm_drops * 2]

    def rounds(self):
        for d in self.drops:
            yield [self._op(d, self.dirs[d.key], self.lake, self.table, self.ref)]

    def short_page_misreads(self) -> int:
        """Pages that ``sources.minipdf.extract_pdf_cells`` misreads when
        the first ``PROBE_DROPS`` drops are printed ``SHORT_PAGE_ROWS``
        rows a page. The extractor bins columns per page, so a page whose
        herd-name column is blank on every row shifts the later columns;
        at 4 rows a page about one drop in ten has such a page, and its
        shifted estimates explode into duplicate keys. The timed window
        prints 20 rows a page, where no op fails; this count is where the
        defect shows (0 once the extractor is fixed)."""
        from bow_hunter_pipeline_spark.sources.minipdf import extract_pdf_cells, write_pdf

        bad = 0
        for d in self.drops[:PROBE_DROPS]:
            for p in range(len(d.pdf_rows)):
                pages = datagen.drop_pages(d, p, datagen.SHORT_PAGE_ROWS)
                got = extract_pdf_cells(write_pdf(pages))
                for n, page in enumerate(pages, start=1):
                    want = {(n, r, c, text) for r, row in enumerate(page, start=1)
                            for c, text in enumerate(row, start=1) if text}
                    bad += want != {cell for cell in got if cell[0] == n}
        return bad

    # state save/restore, so a traced replay starts where the window did.
    # The replay gets copies at new paths: a table's commit log is never
    # rewritten under a path the program has already read.
    def save_state(self) -> None:
        self._saved = os.path.join(self.run_dir, "saved")
        for src in (self.lake, self.table):
            if os.path.exists(src):
                shutil.copytree(src, os.path.join(self._saved, os.path.basename(src)))

    def restore_state(self) -> None:
        self.lake = os.path.join(self.run_dir, "traced", "lake")
        self.table = os.path.join(self.run_dir, "traced", "tables", "population_production")
        for dst in (self.lake, self.table):
            src = os.path.join(self._saved, os.path.basename(dst))
            if os.path.exists(src):
                shutil.copytree(src, dst)
        self.ref = reference.PopulationReference()

    def _create(self, table: str) -> None:
        empty = self.spark.createDataFrame([], POPULATION_PRODUCTION_SCHEMA)
        warehouse_tx.create_table(
            self.spark, table, empty, stats_cols=POPULATION_PRODUCTION_KEYS
        )

    def _op(self, drop, drop_dir, lake, table, ref) -> Op:
        spark = self.spark

        def run(tr):
            with tr.span("io.read"):
                binary = read_binary_files(spark, drop_dir, "*.pdf")
            with tr.span("sources"):
                # the lake's bronze landing: extracted report rows are
                # materialized once, then normalized
                rows = grid_to_table(cells_to_grid(extract_cells(binary)))
                rows = rows.localCheckpoint(eager=True)
            with tr.span("operators"):
                stage = _normalize(rows, drop.state, drop.species)
            with tr.span("io.write"):
                write_partitioned_parquet(stage, lake, LAKE_PARTITIONS)
            with tr.span("io.read"):
                landed = read_parquet_glob(spark, lake).where(
                    (F.col("state") == drop.state)
                    & (F.col("species") == drop.species)
                    & (F.col("year") == drop.year)
                )
            with tr.span("warehouse"):
                incoming = warehouse.production_rows(landed)
            with tr.span("warehouse_tx.merge"):
                version = warehouse_tx.merge(
                    spark, table, incoming,
                    POPULATION_PRODUCTION_KEYS, POPULATION_PRODUCTION_UPDATE_COLS,
                )
            rows.unpersist()
            return version

        def check(version):
            ref.apply(drop)
            files = [os.path.join(table, f) for f in warehouse_tx.live_files(table, version)]
            got = pq.read_table(files).select(list(reference.PRODUCTION_COLS))
            return reference.check_production(
                [tuple(r.values()) for r in got.to_pylist()], ref.rows()
            )

        def probe(version):
            """Traced runs only: bytes and files the op wrote."""
            part = os.path.join(
                lake, f"state={drop.state}", f"species={drop.species}", f"year={drop.year}"
            )
            landed = [os.path.join(part, f) for f in os.listdir(part) if f.endswith(".parquet")]
            live = warehouse_tx.live_files(table, version)
            added = set(live) - set(warehouse_tx.live_files(table, version - 1))
            return {
                "files_written": len(landed),
                "bytes_written": sum(map(os.path.getsize, landed)),
                "table_bytes_written": sum(os.path.getsize(os.path.join(table, f)) for f in added),
                "live_files": len(live),
            }

        return Op(self.name, run, check, probe)


def _normalize(rows, state: str, species: str):
    """Report rows → stage rows with the reference's normalize rules:
    header sanitize, GMU/ratio header dialects, footer drop, comma-number
    parses, the ``DAU_`` herd-name fallback and the year from the file name."""
    header = rows.select("header").first()["header"]
    df = rows.select(
        "path", *[F.col("cells")[i].alias(h) for i, h in enumerate(header)]
    )
    df = normalize_headers(df, slash_to_per=True)
    gmu = next(c for c in df.columns if any(re.match(p, c) for p in GMU_HEADER_PATTERNS))
    df = df.withColumnRenamed(gmu, "gmu_list")
    df = coalesce_candidates(df, "male_female_ratio", SPECIES_RATIO_HEADERS[species])
    df = drop_footer_rows(df, "dau")
    herd = F.trim("herd_name")
    df = df.select(
        F.when(herd == "", F.concat(F.lit("DAU_"), F.trim("dau")))
        .otherwise(herd).alias("herd_name"),
        parse_long("post_hunt_estimate").alias("post_hunt_estimate"),
        parse_double("male_female_ratio").alias("male_female_ratio"),
        year_from_path(F.element_at(F.split("path", "/"), -1)).alias("year"),
        "gmu_list",
    )
    df = add_metadata(df, state=state, species=species)
    return df.select(*[f.name for f in POPULATION_STAGE_SCHEMA.fields])


# --- lakehouse_reads --------------------------------------------------------

READ_QUERIES = [
    "g1_pricing_summary",
    "g2_revenue_by_nation",
    "g3_top_k_per_group",
    "g4_yearly_trend",
    "f_q9_product_profit",
    "h4_sessionize",
    "b3_d1_d2_population_explode",
    "h2_ivf_topk",
    "h2_ivf_pq_topk",
    "h2_filtered_ivf_topk",
    "h2_ivf_nprobe_topk",
    "h1_semdedup_kmeans",
    "h1_minhash_lsh_pairs",
]
TX_OPS = ["tx_rollup_latest", "tx_rollup_version", "tx_asof", "tx_change_feed", "tx_count"]
SF = 0.01  # fixture scale: lineitem 60k rows, 500 documents, 500 embeddings
FIXTURE_COMMITS = 3  # create + 2 merges
DROPS_PER_COMMIT = 4
_ROLLUP_SQL = """SELECT state, species, year, count(*) AS n_units,
  sum(post_hunt_estimate) AS total_estimate, max(male_female_ratio) AS max_ratio
FROM v{v} GROUP BY state, species, year"""


def _rollup(df):
    return df.groupBy("state", "species", "year").agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("post_hunt_estimate").alias("total_estimate"),
        F.max("male_female_ratio").alias("max_ratio"),
    )


class LakehouseReads:
    name = "lakehouse_reads"
    round_len = len(READ_QUERIES) + len(TX_OPS)

    def __init__(self, run_dir: str, seed: int) -> None:
        self.run_dir, self.seed = run_dir, seed
        self.sf_dir = os.path.join(run_dir, "sf")
        self.table = os.path.join(run_dir, "tables", "population_production")
        self.rng = np.random.default_rng([seed, 5])

    def prepare(self) -> None:
        datagen.write_sf_tables(self.sf_dir, self.seed, SF)
        # fixture commits: groups of drops, no season twice in one group
        groups, cur = [], []
        for d in datagen.population_drops(self.seed, 4 * FIXTURE_COMMITS * DROPS_PER_COMMIT):
            if any((d.state, d.species, d.year) == (c.state, c.species, c.year) for c in cur):
                continue
            cur.append(d)
            if len(cur) == DROPS_PER_COMMIT:
                groups.append(cur)
                cur = []
            if len(groups) == FIXTURE_COMMITS:
                break
        self.groups = groups

    def oracle(self) -> None:
        """Every expected result, computed once before set-up and window."""
        con = reference.oracle_connection(self.sf_dir)
        sqls = registry.oracle_sql()
        self.expected = {q: reference.oracle_rows(con, sqls[q]) for q in READ_QUERIES}
        ref = reference.PopulationReference()
        self.incoming = []
        for v, group in enumerate(self.groups):
            self.incoming.append([r for d in group for r in ref.incoming(d)])
            for d in group:
                ref.apply(d)
            ref.con.execute(f"CREATE TABLE v{v} AS SELECT * FROM population_production")
        n = len(self.groups)
        self.rollups = [reference.oracle_rows(ref.con, _ROLLUP_SQL.format(v=v)) for v in range(n)]
        self.counts = [ref.con.execute(f"SELECT count(*) FROM v{v}").fetchone()[0] for v in range(n)]
        self.feeds = {}
        for a in range(n):
            for b in range(a + 1, n):
                self.feeds[a, b] = reference.oracle_rows(ref.con, f"""
                    SELECT *, 'insert' AS _change_type FROM (SELECT * FROM v{b} EXCEPT ALL SELECT * FROM v{a})
                    UNION ALL
                    SELECT *, 'delete' AS _change_type FROM (SELECT * FROM v{a} EXCEPT ALL SELECT * FROM v{b})""")

    def setup(self, spark) -> None:
        """Build the multi-version table with the program's own writes."""
        self.spark = spark
        self.queries = registry.queries()
        for v, rows in enumerate(self.incoming):
            df = spark.createDataFrame(rows, POPULATION_PRODUCTION_SCHEMA)
            if v == 0:
                warehouse_tx.create_table(spark, self.table, df,
                                          stats_cols=POPULATION_PRODUCTION_KEYS)
            else:
                warehouse_tx.merge(spark, self.table, df, POPULATION_PRODUCTION_KEYS,
                                   POPULATION_PRODUCTION_UPDATE_COLS)
        log = os.path.join(self.table, "_log")
        self.commit_times = [os.path.getmtime(os.path.join(log, f"{v:08d}.json"))
                             for v in range(len(self.incoming))]

    def warmup_ops(self):
        return [self._make(kind) for kind in READ_QUERIES + TX_OPS]

    def rounds(self):
        kinds = READ_QUERIES + TX_OPS
        while True:
            yield [self._make(kinds[i]) for i in self.rng.permutation(len(kinds))]

    def short_page_misreads(self) -> int:
        return 0  # no PDFs: the sources layer is not called

    def save_state(self) -> None:
        self._rng_state = self.rng.bit_generator.state

    def restore_state(self) -> None:
        self.rng.bit_generator.state = self._rng_state

    def _make(self, kind: str) -> Op:
        spark, table = self.spark, self.table
        latest = len(self.incoming) - 1
        if kind in self.expected:
            def run(tr, q=kind):
                with tr.span("plans.build"):
                    df = self.queries[q](spark, self.sf_dir)
                with tr.span("spark.action"):
                    return df.columns, df.collect()

            want = self.expected[kind]
            return Op(kind, run, lambda res: _diff(reference.canonical(*res), want))
        if kind == "tx_count":
            v = int(self.rng.integers(0, latest + 1))

            def run(tr):
                with tr.span("warehouse_tx.snapshot"):
                    return warehouse_tx.snapshot_count(spark, table, v)

            want_n = self.counts[v]
            return Op(kind, run, lambda n: None if n == want_n else f"count {n} != {want_n}")
        if kind == "tx_change_feed":
            a = int(self.rng.integers(0, latest))
            b = int(self.rng.integers(a + 1, latest + 1))
            want = self.feeds[a, b]

            def read():
                return warehouse_tx.change_feed(spark, table, a, b)
        elif kind == "tx_asof":
            v = int(self.rng.integers(0, latest + 1))
            want, ts = self.rollups[v], self.commit_times[v]

            def read():
                return _rollup(warehouse_tx.snapshot_asof(spark, table, ts))
        else:
            v = latest if kind == "tx_rollup_latest" else int(self.rng.integers(0, latest))
            want = self.rollups[v]

            def read():
                return _rollup(warehouse_tx.snapshot(spark, table, v))

        def run(tr):
            with tr.span("warehouse_tx.snapshot"):
                df = read()
            with tr.span("warehouse_tx.read_action"):
                return df.columns, df.collect()

        return Op(kind, run, lambda res: _diff(reference.canonical(*res), want))


def _diff(got, want) -> str | None:
    if got == want:
        return None
    return f"{len(got)} rows vs {len(want)} expected"


WORKLOADS = {w.name: w for w in (MedallionIngest, LakehouseReads)}
