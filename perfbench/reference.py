"""Independent DuckDB references the benchmark checks every op against.

``PopulationReference`` replays the agency drops with the reference
pipeline's own SQL semantics (``load_population_production.sql``): a
footer filter, the anchored ``^[0-9 ,]+$`` gate on the trimmed GMU list,
``UNNEST`` of the split list cast to ``INTEGER[]``, and
``INSERT … ON CONFLICT DO UPDATE`` of only ``post_hunt_estimate`` and
``male_female_ratio`` — ``herd_name`` keeps its first value. The key is
a declared primary key, so a duplicate can never enter the reference.

``oracle_rows`` runs the registry's DuckDB oracle SQL over the generated
fixture tables. Results are compared in ``canonical`` form: columns
sorted by name, every value rendered with ``repr`` and the rows sorted,
so the comparison is bit-exact and order-insensitive.
"""

from __future__ import annotations

import os

import duckdb

from datagen import Drop

FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()
PRODUCTION_COLS = (
    "state", "species", "herd_name", "post_hunt_estimate",
    "male_female_ratio", "year", "unit",
)


def canonical(columns, rows) -> list[tuple[str, ...]]:
    """Order-insensitive, bit-exact form of a result set."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(repr(r[i]) for i in idx) for r in rows)


class PopulationReference:
    """The production table as the reference pipeline would hold it."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            """CREATE TABLE population_production (
                 state VARCHAR, species VARCHAR, herd_name VARCHAR,
                 post_hunt_estimate BIGINT, male_female_ratio DOUBLE,
                 year INTEGER, unit INTEGER,
                 PRIMARY KEY (state, species, year, unit))"""
        )
        self.con.execute(
            "CREATE TABLE raw (dau VARCHAR, herd VARCHAR, gmus VARCHAR, "
            "est VARCHAR, ratio VARCHAR)"
        )

    def incoming(self, drop: Drop) -> list[tuple]:
        """The drop's exploded production rows (before the upsert)."""
        self._load_raw(drop)
        return self.con.execute(
            _STAGE_SQL.format(select=_EXPLODE), self._meta(drop)
        ).fetchall()

    def apply(self, drop: Drop) -> None:
        """Upsert one drop into the reference production table."""
        self._load_raw(drop)
        self.con.execute(
            "INSERT INTO population_production "
            + _STAGE_SQL.format(select=_EXPLODE)
            + " ON CONFLICT (state, species, year, unit) DO UPDATE SET "
            "post_hunt_estimate = EXCLUDED.post_hunt_estimate, "
            "male_female_ratio = EXCLUDED.male_female_ratio",
            self._meta(drop),
        )

    def rows(self) -> list[tuple]:
        return self.con.execute(
            f"SELECT {', '.join(PRODUCTION_COLS)} FROM population_production"
        ).fetchall()

    def _load_raw(self, drop: Drop) -> None:
        self.con.execute("DELETE FROM raw")
        self.con.executemany(
            "INSERT INTO raw VALUES (?, ?, ?, ?, ?)",
            [list(r) for rows in drop.pdf_rows for r in rows],
        )

    @staticmethod
    def _meta(drop: Drop) -> list:
        return [drop.state, drop.species, drop.year]


# reference semantics, step by step: footer drop, DAU_ fallback name,
# comma-stripped coerce-to-NULL numbers, anchored gate, UNNEST
_STAGE_SQL = """
WITH stage AS (
  SELECT CAST(? AS VARCHAR) AS state, CAST(? AS VARCHAR) AS species,
         CASE WHEN trim(herd) = '' THEN 'DAU_' || trim(dau) ELSE trim(herd) END
           AS herd_name,
         TRY_CAST(replace(trim(est), ',', '') AS BIGINT) AS post_hunt_estimate,
         TRY_CAST(replace(trim(ratio), ',', '') AS DOUBLE) AS male_female_ratio,
         CAST(? AS INTEGER) AS year,
         gmus AS gmu_list
  FROM raw
  WHERE lower(trim(dau)) <> 'total'
)
SELECT {select} FROM stage
WHERE regexp_matches(trim(gmu_list), '^[0-9 ,]+$')
"""
_EXPLODE = (
    "state, species, herd_name, post_hunt_estimate, male_female_ratio, year, "
    "UNNEST(CAST(string_split(gmu_list, ',') AS INTEGER[])) AS unit"
)


def check_production(rows: list[tuple], expected: list[tuple]) -> str | None:
    """None when ``rows`` (production-column order) equal the reference
    state; else a one-line reason. Checks key uniqueness first, so a
    duplicated key is named as such."""
    keys = [(r[0], r[1], r[5], r[6]) for r in rows]
    if len(set(keys)) != len(keys):
        return f"duplicate (state, species, year, unit) keys: {len(keys) - len(set(keys))}"
    got = canonical(PRODUCTION_COLS, rows)
    want = canonical(PRODUCTION_COLS, expected)
    if got != want:
        extra = sorted(set(got) - set(want))[:2]
        missing = sorted(set(want) - set(got))[:2]
        return f"{len(got)} rows vs {len(want)} expected; extra {extra} missing {missing}"
    return None


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple[str, ...]]:
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    return canonical(cols, rel.fetchall())
