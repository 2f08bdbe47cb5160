"""Untimed output checks for the benchmark.

Every op's output is dumped once per run and compared, order-insensitively,
with an independent DuckDB evaluation over the same inputs:

* registered queries against their oracle SQL (`graft.SparkEntry.oracleSql`);
* the INMET pipeline's six tables against the generator's true values
  (`truth.csv`, `stations.csv`), cleansed and aggregated in DuckDB SQL.

A check returns None when the output matches, else a one-line reason. Each
matching output is also summarised as (row count, content digest).
"""
import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _key(v):
    """A canonical text for one cell: floats to 9 significant digits, so
    sort order and digest ignore last-bit rounding differences."""
    if v is None:
        return "None"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, float):
        return "nan" if v != v else "%.9g" % v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_key(x) for x in v) + "]"
    if isinstance(v, dict):
        return repr(sorted((k, _key(x)) for k, x in v.items()))
    return repr(v)


def _canonical(df):
    """Columns in name order and rows sorted by their canonical text, with
    that text alongside."""
    cols = sorted(df.columns)
    keys = pd.DataFrame({c: df[c].map(_key) for c in cols})
    order = keys.sort_values(cols, kind="mergesort").index
    return (df[cols].loc[order].reset_index(drop=True),
            keys.loc[order].reset_index(drop=True))


def digest(df):
    """Row count and an order-insensitive digest of a result frame."""
    _, keys = _canonical(df)
    h = hashlib.sha256()
    for row in keys.itertuples(index=False, name=None):
        h.update("\x1f".join(row).encode())
    return len(df), h.hexdigest()[:16]


def compare(actual, expected):
    """None when the two frames hold the same multiset of rows; floats
    match to a relative 1e-9."""
    ac, ec = sorted(actual.columns), sorted(expected.columns)
    if ac != ec:
        return f"schema {ac} != {ec}"
    if len(actual) != len(expected):
        return f"rows {len(actual)} != {len(expected)}"
    for c in ac:
        ka, kb = actual[c].dtype.kind, expected[c].dtype.kind
        if ka != kb and not ({ka, kb} <= {"O", "M"}):
            return f"dtype of {c}: {actual[c].dtype} != {expected[c].dtype}"
    (a, akeys), (b, bkeys) = _canonical(actual), _canonical(expected)
    for c in ac:
        if a[c].dtype.kind == "f":
            same = np.isclose(a[c].to_numpy(), b[c].to_numpy(), rtol=1e-9,
                              atol=1e-9, equal_nan=True)
        else:
            same = (akeys[c] == bkeys[c]).to_numpy()
        if not same.all():
            i = int(np.argmin(same))
            return f"row {i} column {c}: {a[c][i]!r} != {b[c][i]!r}"
    return None


def read_dump(con, path):
    return con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()


def check_queries(check):
    """Compares each query dump with its oracle SQL over the same tables."""
    con = connect()
    data = check["data_dir"]
    for t in TABLES:
        p = f"{data}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    results = {}
    for name in sorted(check["oracle_sql"]):
        if name in check["dump_errors"]:
            results[name] = (f"error: {check['dump_errors'][name]}", None)
            continue
        actual = read_dump(con, f"{check['dump_dir']}/{name}")
        try:
            expected = con.sql(check["oracle_sql"][name]).fetchdf()
        except duckdb.Error as e:
            results[name] = (f"oracle SQL failed: {str(e)[:120]}", None)
            continue
        results[name] = (compare(actual, expected), digest(actual))
    return results


# The reference cleansing and warehouse semantics, restated over the
# generator's true values: missing measures are zero-filled before any
# aggregate, the calendar spans min..max of the hourly dates.
INMET_EXPECTED = {
    "stage/cidades": """
        SELECT regiao, uf, estacao, wmo, latitude, longitude, altitude,
               founded AS data_fundacao FROM stations""",
    "stage/previsoes": """
        SELECT wmo, day AS data_medicao,
               coalesce(precip, 0) AS precipitacao_mm,
               coalesce(pressao, 0) AS pressao_atm_kpa,
               coalesce(temp, 0) AS temperatura_c,
               coalesce(umid, 0) AS umidade_porcentagem,
               coalesce(vento, 0) AS vento_mps FROM truth""",
    "stage/datas": """
        SELECT CAST(d AS DATE) AS data_medicao, day(d)::INT AS dia,
               month(d)::INT AS mes, year(d)::INT AS ano,
               quarter(d)::INT AS quartil, weekofyear(d)::INT AS semana_do_ano
        FROM (SELECT unnest(generate_series(min(day)::TIMESTAMP,
                  max(day)::TIMESTAMP, INTERVAL 1 DAY)) AS d FROM truth)""",
    "analytic/dim_cidade_atributos": """
        SELECT upper(trim(wmo)) || '-' || upper(trim(uf)) || '-' ||
               upper(trim(estacao)) AS cidade_sk, wmo, uf, estacao, regiao,
               latitude, longitude, altitude, founded AS data_fundacao
        FROM stations""",
    "analytic/fato_agg_previsoes_dia": """
        SELECT p.wmo, c.cidade_sk, p.data_medicao,
               min(temperatura_c) AS temp_min_c,
               max(temperatura_c) AS temp_max_c,
               avg(temperatura_c) AS temp_avg_c,
               sum(precipitacao_mm) AS precip_total_mm,
               avg(pressao_atm_kpa) AS pressao_avg_kpa,
               avg(vento_mps) AS vento_avg_mps,
               avg(umidade_porcentagem) AS umidade_avg_pct,
               count(*) AS registros_horarios
        FROM expected_previsoes p JOIN expected_dim c USING (wmo)
        GROUP BY p.wmo, c.cidade_sk, p.data_medicao""",
    "analytic/cidade_kpis_mensal": """
        SELECT c.cidade_sk, year(f.data_medicao)::INT AS ano,
               month(f.data_medicao)::INT AS mes,
               avg(temp_avg_c) AS mensal_temp_media,
               max(temp_max_c) AS mensal_temp_max,
               sum(precip_total_mm) AS mensal_precip_total,
               count_if(precip_total_mm > 0)::BIGINT AS dias_com_precip
        FROM expected_fato f JOIN expected_dim c USING (wmo)
        GROUP BY c.cidade_sk, year(f.data_medicao), month(f.data_medicao)""",
}


def check_inmet(check):
    """Compares the six pipeline tables with the generator's truth."""
    con = connect()
    con.execute(f"""CREATE TABLE truth AS SELECT * FROM read_csv('{check["truth"]}',
        header = true, columns = {{'wmo': 'VARCHAR', 'day': 'DATE',
        'hour': 'INTEGER', 'precip': 'DOUBLE', 'pressao': 'DOUBLE',
        'temp': 'DOUBLE', 'umid': 'DOUBLE', 'vento': 'DOUBLE'}})""")
    con.execute(f"""CREATE TABLE stations AS SELECT * FROM read_csv(
        '{check["stations"]}', header = true, columns = {{'wmo': 'VARCHAR',
        'regiao': 'VARCHAR', 'uf': 'VARCHAR', 'estacao': 'VARCHAR',
        'latitude': 'DOUBLE', 'longitude': 'DOUBLE', 'altitude': 'DOUBLE',
        'founded': 'DATE'}})""")
    for name, view in [("stage/previsoes", "expected_previsoes"),
                       ("analytic/dim_cidade_atributos", "expected_dim"),
                       ("analytic/fato_agg_previsoes_dia", "expected_fato")]:
        con.execute(f"CREATE VIEW {view} AS {INMET_EXPECTED[name]}")
    results = {}
    if "pipeline" in check["dump_errors"]:
        return {"pipeline": (f"error: {check['dump_errors']['pipeline']}", None)}
    for table, sql in INMET_EXPECTED.items():
        layer, name = table.split("/")
        actual = read_dump(con, f"{check['dump_dir']}/pipeline/etl_{layer}/{name}")
        reason = None
        if len(actual) != check["expected_rows"][table]:
            reason = f"rows {len(actual)} != {check['expected_rows'][table]} (generator)"
        results[table] = (reason or compare(actual, con.sql(sql).fetchdf()),
                          digest(actual))
    return results


def run_checks(check):
    """Maps each checked output to (failure reason or None, (rows, digest))."""
    return check_inmet(check) if check["kind"] == "inmet" else check_queries(check)
