"""Output checks: order-free digests and DuckDB references.

- MEDS: a DuckDB replay of ``normalize.yaml`` gives the expected codes
  table and, per vocab index, the expected normalized data rows (counts
  and sums of subject ids and times exactly, sums of the normalized
  values within ``NORM_TOL``); the codes table is compared with it
  column by column (integers exactly, float sums within ``REL_TOL``).
  The written data rows also get an order-free digest that must be the
  same on every run and in both pipeline arms (lazy and checkpointed).
- Corpus: each call's written output is compared once per seed with the
  repo's DuckDB oracle for the registered query of the same parameters;
  the canonical digest of that oracle output is cached, and every later
  run must write the same digest.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

#: Relative tolerance for the codes table's float columns. Double sums
#: follow partition order, so the lazy and checkpointed arms (and DuckDB)
#: may differ in the last ULP; anything beyond this is a wrong answer.
REL_TOL = 1e-9

#: Relative tolerance for the per-code sums of normalized values. Each
#: value is ``float((v - mean) / std)``; a last-ULP difference in the
#: double mean or std can move it by one float32 ULP (about 1.2e-7).
#: A wrong mean, std or code mapping moves the sums by far more.
NORM_TOL = 1e-6


def read_dir(path: str) -> pd.DataFrame:
    """A written parquet directory (hive partitions become columns)."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def row_digest(df: pd.DataFrame) -> str:
    """Order-free digest of a frame's rows: the sum (mod 2**64) and the
    xor of per-row hashes, plus the row count."""
    df = df.reindex(sorted(df.columns), axis=1)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return f"{len(h)}:{int(h.sum(dtype=np.uint64)):016x}:{int(np.bitwise_xor.reduce(h)) if len(h) else 0:016x}"


def canonical_digest(df: pd.DataFrame) -> str:
    """Engine-neutral digest: integers widened to int64, floats compared
    by bit pattern, rows sorted. Used to compare Spark with DuckDB."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("Int64").astype(str)
        elif pd.api.types.is_float_dtype(s):
            v = np.asarray(s, dtype=np.float64)
            df[c] = np.where(np.isnan(v), "nan", v.view(np.int64).astype(str))
        else:
            df[c] = s.astype(str)
    df = df.sort_values(list(df.columns), kind="mergesort")
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        h.update("\x1f".join(df[c].tolist()).encode())
    return f"{len(df)}:{h.hexdigest()[:24]}"


class DigestCache:
    """Per-seed expected digests, kept in the input cache."""

    def __init__(self, path: str):
        self.path = path
        self.data = {}
        if os.path.exists(path):
            with open(path) as f:
                self.data = json.load(f)

    def get(self, key: str):
        return self.data.get(key)

    def put(self, key: str, value) -> None:
        self.data[key] = value
        tmp = self.path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


# --- MEDS ---------------------------------------------------------------

#: DuckDB replay of normalize.yaml up to the codes table: subjects with
#: at least 3 distinct times (a null time counts as one, as the
#: dense-rank filter counts it), then per-code statistics over the train
#: split (float squares summed in double, as Spark's ``sum(v * v)`` over a
#: float column does), vocab indices in code order.
_MEDS_CODES_SQL = """
WITH raw AS (
  SELECT * FROM read_parquet('{data}/*/*.parquet', hive_partitioning = true)
), kept AS (
  SELECT * FROM raw WHERE subject_id IN (
    SELECT subject_id FROM raw GROUP BY subject_id
    HAVING count(DISTINCT "time") + max(CASE WHEN "time" IS NULL THEN 1 ELSE 0 END) >= 3)
), train AS (
  SELECT *, numeric_value AS nv FROM kept WHERE split = 'train'
)
SELECT code,
       count(DISTINCT subject_id) AS "code/n_subjects",
       count(*) AS "code/n_occurrences",
       count(nv) FILTER (NOT isnan(nv)) AS "values/n_occurrences",
       coalesce(sum(CAST(nv AS DOUBLE)) FILTER (NOT isnan(nv)), 0.0) AS "values/sum",
       coalesce(sum(CAST(nv * nv AS DOUBLE)) FILTER (NOT isnan(nv)), 0.0) AS "values/sum_sqd",
       row_number() OVER (ORDER BY code) AS "code/vocab_index"
FROM train GROUP BY code
"""

#: DuckDB replay of the normalized data rows, aggregated per vocab index:
#: kept rows whose code has train statistics (normalization's inner join),
#: the value occluded beyond 4 sigma of the code's train mean (sigma from
#: the clamped variance, as occlude_outliers computes it), then
#: ``(v - mean) / std`` with the unclamped std, cast to float. A zero or
#: NaN std takes the IEEE outcomes normalization spells out.
_MEDS_NORM_SQL = """
WITH raw AS (
  SELECT * FROM read_parquet('{data}/*/*.parquet', hive_partitioning = true)
), kept AS (
  SELECT * FROM raw WHERE subject_id IN (
    SELECT subject_id FROM raw GROUP BY subject_id
    HAVING count(DISTINCT "time") + max(CASE WHEN "time" IS NULL THEN 1 ELSE 0 END) >= 3)
), stats AS (
  SELECT code,
         count(numeric_value) FILTER (NOT isnan(numeric_value)) AS n,
         coalesce(sum(CAST(numeric_value AS DOUBLE)) FILTER (NOT isnan(numeric_value)), 0.0) AS s,
         coalesce(sum(CAST(numeric_value * numeric_value AS DOUBLE))
                  FILTER (NOT isnan(numeric_value)), 0.0) AS s2,
         row_number() OVER (ORDER BY code) AS vocab
  FROM kept WHERE split = 'train' GROUP BY code
), m AS (
  SELECT code, vocab, s / nullif(n, 0) AS mean,
         s2 / nullif(n, 0) - (s / nullif(n, 0)) * (s / nullif(n, 0)) AS var
  FROM stats
), occ AS (
  SELECT k.subject_id, k."time", m.vocab, m.mean,
         CASE WHEN m.var < 0 THEN 'nan'::DOUBLE ELSE sqrt(m.var) END AS std,
         CASE WHEN k.numeric_value IS NOT NULL AND m.mean IS NOT NULL
                   AND abs(CAST(k.numeric_value AS DOUBLE) - m.mean)
                       <= 4.0 * sqrt(greatest(m.var, 0.0))
              THEN CAST(k.numeric_value AS DOUBLE) END AS v
  FROM kept k JOIN m USING (code)
), normed AS (
  SELECT subject_id, "time", vocab, CAST(CASE
           WHEN v IS NULL OR mean IS NULL OR std IS NULL THEN NULL
           WHEN std <> 0 THEN (v - mean) / std
           WHEN isnan(v - mean) THEN 'nan'::DOUBLE
           WHEN v - mean > 0 THEN 'inf'::DOUBLE
           WHEN v - mean < 0 THEN '-inf'::DOUBLE
           ELSE 'nan'::DOUBLE END AS FLOAT) AS x
  FROM occ
)
SELECT vocab AS code,
       count(*) AS n,
       count(x) AS n_values,
       count(*) FILTER (x IS NOT NULL AND NOT isfinite(x)) AS n_nonfinite,
       count(*) FILTER ("time" IS NULL) AS n_static,
       CAST(sum(subject_id) AS BIGINT) AS sum_subject,
       CAST(coalesce(sum(epoch_us("time") // 1000000), 0) AS BIGINT) AS sum_time_s,
       coalesce(sum(CAST(x AS DOUBLE)) FILTER (isfinite(x)), 0.0) AS sum_x,
       coalesce(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FILTER (isfinite(x)), 0.0) AS sum_x2,
       coalesce(sum(abs(CAST(x AS DOUBLE))) FILTER (isfinite(x)), 0.0) AS sum_abs_x
FROM normed GROUP BY vocab ORDER BY vocab
"""

#: Integer per-code columns of the normalized-rows summary (exact).
_NORM_EXACT = ("n", "n_values", "n_nonfinite", "n_static", "sum_subject", "sum_time_s")


def meds_reference(input_root: str) -> dict:
    """Expected codes table and per-code summary of the data rows."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    data = os.path.join(input_root, "data")
    codes = con.execute(_MEDS_CODES_SQL.format(data=data)).df()
    norm = con.execute(_MEDS_NORM_SQL.format(data=data)).df()
    con.close()
    return {
        "codes": codes.sort_values("code").reset_index(drop=True).to_dict("list"),
        "norm": {c: norm[c].tolist() for c in norm.columns},
    }


def check_meds_codes(codes: pd.DataFrame, ref: dict) -> tuple[list[str], int]:
    """Problems in the written codes table against the reference, and the
    number of float cells that differ from it at all (ULP-level noise)."""
    want = pd.DataFrame(ref["codes"])
    got = codes.sort_values("code").reset_index(drop=True)
    problems = []
    if list(got["code"]) != list(want["code"]):
        return [f"codes differ: {len(got)} vs {len(want)} rows"], 0
    inexact = 0
    for c in want.columns:
        if c == "code":
            continue
        if c not in got.columns:
            problems.append(f"codes table lacks column {c}")
            continue
        g = got[c].to_numpy(dtype=np.float64)
        w = want[c].to_numpy(dtype=np.float64)
        if c.startswith("values/sum"):
            bad = ~np.isclose(g, w, rtol=REL_TOL, atol=0.0, equal_nan=True)
            inexact += int((g != w).sum())
        else:
            bad = g != w
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"codes column {c}: {int(bad.sum())} mismatches, e.g. {g[i]!r} vs {w[i]!r}")
    return problems, inexact


def norm_summary(data: pd.DataFrame) -> pd.DataFrame:
    """The written data rows summarized per code as ``_MEDS_NORM_SQL``
    summarizes the replay."""
    x = data["numeric_value"].astype(np.float64)
    fin = np.isfinite(x)
    t = data["time"]
    df = pd.DataFrame({
        "code": data["code"].astype(np.int64),
        "n": 1,
        "n_values": x.notna().astype(np.int64),
        "n_nonfinite": (x.notna() & ~fin).astype(np.int64),
        "n_static": t.isna().astype(np.int64),
        "sum_subject": data["subject_id"].astype(np.int64),
        "sum_time_s": ((t - pd.Timestamp(0)) // pd.Timedelta(seconds=1)).fillna(0).astype(np.int64),
        "sum_x": np.where(fin, x, 0.0),
        "sum_x2": np.where(fin, x * x, 0.0),
        "sum_abs_x": np.where(fin, np.abs(x), 0.0),
    })
    return df.groupby("code", sort=True).sum().reset_index()


def check_meds_rows(data: pd.DataFrame, ref: dict) -> list[str]:
    """The written data rows, per code, against the replay: counts and
    id/time sums exactly, normalized-value sums within ``NORM_TOL``."""
    want = pd.DataFrame(ref["norm"])
    got = norm_summary(data)
    if list(got["code"]) != list(want["code"]):
        return [f"data codes differ: {len(got)} vs {len(want)} vocab indices"]
    problems = []
    for c in _NORM_EXACT:
        bad = got[c].to_numpy(dtype=np.int64) != want[c].to_numpy(dtype=np.int64)
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"data {c}: {int(bad.sum())} codes differ, e.g. code "
                            f"{int(want['code'][i])}: {int(got[c][i])} vs {int(want[c][i])}")
    scale = want["sum_abs_x"].to_numpy(dtype=np.float64)
    for c in ("sum_x", "sum_x2", "sum_abs_x"):
        g = got[c].to_numpy(dtype=np.float64)
        w = want[c].to_numpy(dtype=np.float64)
        # sum_x can be near 0; its error is bounded by the sum of |x|
        tol = NORM_TOL * (scale if c == "sum_x" else np.abs(w))
        bad = ~(np.abs(g - w) <= tol)
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"data {c}: {int(bad.sum())} codes differ, e.g. code "
                            f"{int(want['code'][i])}: {g[i]!r} vs {w[i]!r}")
    return problems


# --- corpus -------------------------------------------------------------

def corpus_oracle_digests(tables_dir: str, names: list[str]) -> dict[str, str]:
    """Canonical digests of the DuckDB oracle output for each query."""
    import duckdb

    import __spark_entry__ as E

    oracles = E.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in ("documents", "embeddings"):
        p = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {n: canonical_digest(con.execute(oracles[n]).df()) for n in names}
    con.close()
    return out
