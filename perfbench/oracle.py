"""DuckDB oracle for the benchmark's output checks.

The engine's outputs are compared with what DuckDB computes from the same
generated files. Both sides are reduced to an order-independent
fingerprint: the row count and the sum of a 60-bit md5 prefix of each
row's canonical rendering, so neither side has to sort or ship rows.
"""
import os

import duckdb

NULL = "∅"


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    con.execute("SET enable_progress_bar=false")
    return con


def _render(col, typ):
    t = typ.upper()
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        return f"CAST(round({col} * 1000) AS BIGINT)"
    if t.startswith("TIMESTAMP"):
        return f"epoch_us({col})"
    if t == "DATE":
        return f"strftime({col}, '%Y-%m-%d')"
    return col


def fingerprint(con, relation_sql, columns):
    """(rows, fp) of `columns` of a relation; fp is a decimal string."""
    desc = con.execute(f"DESCRIBE SELECT {', '.join(columns)} FROM ({relation_sql})").fetchall()
    types = {r[0]: r[1] for r in desc}
    parts = [f"coalesce(CAST({_render(c, types[c])} AS VARCHAR), '{NULL}')" for c in columns]
    row = " || '|' || ".join(parts)
    sql = (f"SELECT count(*), CAST(coalesce(sum(CAST(concat('0x', substr(md5({row}), 1, 15)) "
           f"AS BIGINT)), 0) AS HUGEINT) FROM ({relation_sql})")
    n, fp = con.execute(sql).fetchone()
    return int(n), str(fp)


# ------------------------------------------------------------ etl_nightly

def _etl_views(con, d):
    p = lambda f: os.path.join(d, f).replace("'", "''")
    etab_cols = ["codeS3ic", "s3icNumeroSiret", "x", "y", "region", "nomEts",
                 "codeCommuneEtablissement", "codePostal", "etatActivite", "codeApe",
                 "nomCommune", "seveso", "regime", "prioriteNationale", "ippc",
                 "declarationAnnuelle", "familleIc", "baseIdService", "natureIdService",
                 "adresse1", "adresse2", "dateInspection", "indicationSsp", "rayon",
                 "precisionPositionnement"]
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in etab_cols)
    con.execute(f"""CREATE OR REPLACE VIEW etab AS SELECT * FROM read_csv('{p("IC_etablissement.csv")}',
        delim=';', header=false, quote='', columns={{{cols}}})""")
    con.execute(f"""CREATE OR REPLACE VIEW inst AS SELECT * FROM read_csv('{p("IC_installation_classee.csv")}',
        delim=';', header=false, quote='', timestampformat='%d/%m/%Y', columns={{'codeS3ic': 'VARCHAR',
        'id': 'VARCHAR', 'volume': 'DOUBLE', 'unite': 'VARCHAR', 'date_debut_exploitation': 'TIMESTAMP',
        'date_fin_validite': 'TIMESTAMP', 'statut_ic': 'VARCHAR', 'id_ref_nomencla_ic': 'VARCHAR'}})""")
    con.execute(f"""CREATE OR REPLACE VIEW rub AS SELECT * FROM read_csv('{p("IC_ref_nomenclature_ic.csv")}',
        delim=';', header=false, quote='', columns={{'id': 'VARCHAR', 'rubrique_ic': 'VARCHAR',
        'famille_ic': 'VARCHAR', 'sfamille_ic': 'VARCHAR', 'ssfamille_ic': 'VARCHAR', 'alinea': 'VARCHAR',
        'libellecourt_activite': 'VARCHAR', 'id_regime': 'VARCHAR', 'envigueur': 'INTEGER',
        'ippc': 'INTEGER'}})""")
    con.execute(f"""CREATE OR REPLACE VIEW gerep AS SELECT * FROM read_csv('{p("gerep.csv")}',
        header=true, all_varchar=true)""")
    for t in ("company", "company_od", "anonymous", "orders", "lineitem", "events",
              "order_changes", "cust_changes"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p(t + '.parquet')}')")
    con.execute(f"""CREATE OR REPLACE VIEW truth AS SELECT * FROM read_csv('{p("true_siret.csv")}',
        header=true, all_varchar=true)""")


def _label(c, mapping):
    cases = " ".join(f"WHEN {c} = '{k}' THEN '{v}'" for k, v in mapping.items())
    return f"CASE WHEN {c} IS NULL THEN NULL {cases} ELSE '' END"


LIB_SEVESO = {"S": "Seveso", "NS": "Non Seveso", "SB": "Seveso Seuil Bas",
              "SH": "Seveso Seuil Haut", "H": "Seveso Seuil Haut", "B": "Seveso Seuil Bas"}
FAMILLE = {"IN": "Industries", "BO": "Bovins", "PO": "Porcs", "VO": "Volailles", "CA": "Carrières"}
REGIME = {"A": "Soumis à Autorisation", "E": "Enregistrement", "D": "Soumis à Déclaration",
          "DC": "Soumis à Déclaration avec Contrôle périodique", "NC": "Inconnu"}
TD_RUB = ["2710", "2712", "2718", "2770", "2790", "2792", "2793", "2795", "2797", "2798"]
TD_ALINEA = ["2720_1", "2760_1", "2760_4"]


def _coalesce_valid(orig, cand):
    return (f"CASE WHEN (length({orig}) < 14 OR {orig} IS NULL) AND length({cand}) = 14 "
            f"THEN {cand} ELSE {orig} END")


ENRICHED = f"""
WITH e AS (SELECT codeS3ic, s3icNumeroSiret, nomEts, familleIc, regime, seveso FROM etab),
g AS (SELECT '0' || "Code établissement" AS codeS3ic,
             max_by("Numero Siret", "Annee" || "Numero Siret") AS gerep_siret
      FROM gerep GROUP BY "Code établissement"),
j1 AS (SELECT i.id, i.codeS3ic, i.id_ref_nomencla_ic, e.nomEts, e.s3icNumeroSiret AS s0,
              {_label('e.seveso', LIB_SEVESO)} AS lib_seveso,
              {_label('e.familleIc', FAMILLE)} AS famille_ic_libelle,
              {_label('e.regime', REGIME)} AS libRegime
       FROM inst i LEFT JOIN e USING (codeS3ic)),
j2 AS (SELECT j1.*, {_coalesce_valid('s0', 'g.gerep_siret')} AS s1
       FROM j1 LEFT JOIN g USING (codeS3ic))
SELECT j2.id, j2.codeS3ic, j2.id_ref_nomencla_ic, j2.lib_seveso, j2.famille_ic_libelle, j2.libRegime,
       {_coalesce_valid('s1', 'c.siret')} AS s3icNumeroSiret
FROM j2 LEFT JOIN company c ON j2.nomEts = c.nom
"""

ICPE_COLS = ["id", "codeS3ic", "s3icNumeroSiret", "lib_seveso", "famille_ic_libelle"]

PUBLISH = """
SELECT siret, strftime(date_inscription, '%Y-%m-%d') AS date_inscription, nom,
       CASE WHEN siret IN (SELECT siret FROM anonymous) THEN 'oui' END AS non_diffusible
FROM company_od WHERE companyTypes = '{PRODUCER}' OR verificationStatus = 'VERIFIED'
"""
PUBLISH_COLS = ["siret", "date_inscription", "nom", "non_diffusible"]

ETL_QUERIES = {
    "keep_latest": ("""SELECT l_orderkey, l_linenumber FROM (SELECT *, row_number() OVER
        (PARTITION BY l_orderkey ORDER BY l_shipdate DESC, l_linenumber DESC) rn FROM lineitem)
        WHERE rn = 1""", ["l_orderkey", "l_linenumber"]),
    "asof_join": ("""SELECT o.o_orderkey, e.event_id FROM
        (SELECT o_orderkey, o_custkey AS cust, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS t FROM orders) o
        ASOF LEFT JOIN (SELECT event_id, user_id AS cust, epoch_us(ts) AS t FROM events) e
        ON o.cust = e.cust AND o.t >= e.t""", ["o_orderkey", "event_id"]),
    "interval_join": ("""SELECT o.o_orderkey, e.event_id FROM
        (SELECT o_orderkey, o_custkey AS cust, epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS t FROM orders) o
        JOIN (SELECT event_id, user_id AS cust, epoch_ms(ts) AS t FROM events) e
        ON o.cust = e.cust AND abs(o.t - e.t) <= 1800000""", ["o_orderkey", "event_id"]),
    "merge_upsert": ("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY v DESC) rn FROM (
          SELECT o_orderkey, 0 AS v, 'U' AS op, o_orderstatus, o_totalprice FROM orders
          UNION ALL
          SELECT o_orderkey, version, op, o_orderstatus, o_totalprice FROM order_changes))
        WHERE rn = 1 AND op <> 'D'""", ["o_orderkey", "o_orderstatus", "o_totalprice"]),
    "scd2": ("""WITH w AS (SELECT *, lag(c_segment) OVER k AS ps, lag(c_nation) OVER k AS pn
                FROM cust_changes WINDOW k AS (PARTITION BY c_custkey ORDER BY ts)),
        c AS (SELECT c_custkey, ts, c_segment, c_nation FROM w
              WHERE ps IS NULL OR ps <> c_segment OR pn <> c_nation)
        SELECT c_custkey, row_number() OVER k AS version, c_segment, c_nation,
               epoch_us(ts) AS valid_from, epoch_us(lead(ts) OVER k) AS valid_to,
               lead(ts) OVER k IS NULL AS is_current
        FROM c WINDOW k AS (PARTITION BY c_custkey ORDER BY ts)""",
             ["c_custkey", "version", "c_segment", "c_nation", "valid_from", "valid_to",
              "is_current"]),
    "sessionize": ("""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, epoch_us(ts) AS us, event_id, value
                                FROM events),
        g AS (SELECT *, CASE WHEN ms - lag(ms) OVER k > 1800000 THEN 1 ELSE 0 END AS brk
              FROM e WINDOW k AS (PARTITION BY user_id ORDER BY ms, event_id)),
        s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        SELECT user_id, arg_min(us, ms * 1000000 + event_id) AS session_start,
               arg_max(us, ms * 1000000 + event_id) AS session_end, count(*) AS n_events,
               sum(value) AS sum_value
        FROM s GROUP BY user_id, sid""",
                   ["user_id", "session_start", "session_end", "n_events", "sum_value"]),
    "hourly": ("""SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS hour_start, event_type,
                         count(*) AS n, sum(value) AS sum_value
                  FROM events GROUP BY 1, 2""", ["hour_start", "event_type", "n", "sum_value"]),
}


def etl_expected(d):
    con = connect()
    _etl_views(con, d)
    exp = {k: fingerprint(con, sql, cols) for k, (sql, cols) in ETL_QUERIES.items()}
    exp["icpe"] = fingerprint(con, ENRICHED, ICPE_COLS)
    exp["publish"] = fingerprint(con, PUBLISH, PUBLISH_COLS)
    in_list = lambda xs: ", ".join(f"'{x}'" for x in xs)
    stats = con.execute(f"""
        WITH r AS (SELECT id, rubrique_ic, coalesce(rubrique_ic || '_' || alinea, '') AS ria FROM rub),
        t AS (SELECT x.codeS3ic, x.s3icNumeroSiret AS s FROM ({ENRICHED}) x
              JOIN r ON x.id_ref_nomencla_ic = r.id
              WHERE r.ria LIKE '27%' AND (r.rubrique_ic IN ({in_list(TD_RUB)})
                                          OR r.ria IN ({in_list(TD_ALINEA)}))),
        k AS (SELECT codeS3ic, min(CASE WHEN length(s) = 14 THEN s END) AS v FROM t GROUP BY codeS3ic)
        SELECT count(*), count(*) - count(v), count(DISTINCT v) FROM k""").fetchone()
    exp["stats"] = [int(x) for x in stats]
    return {k: (list(v) if isinstance(v, tuple) else v) for k, v in exp.items()}


def etl_verify_outputs(d, out_dir, expected):
    """Fingerprint the engine's check files and final written outputs.

    Returns (failures, quality, checked): quality carries the
    siretisation recall and precision against the generator's true
    SIRETs; checked names the fingerprinted outputs."""
    con = connect()
    _etl_views(con, d)
    q = lambda f: os.path.join(out_dir, f).replace("'", "''")
    fails = []
    got = {}
    for k, (_, cols) in ETL_QUERIES.items():
        path = os.path.join(out_dir, "check", k)
        if not os.path.isdir(path):
            fails.append(f"{k}: no check output")
            continue
        got[k] = fingerprint(con, f"SELECT * FROM read_parquet('{q('check/' + k)}/*.parquet')", cols)
    icpe_rel = f"SELECT * FROM read_parquet('{q('icpe')}/**/*.parquet', hive_partitioning=true)"
    got["icpe"] = fingerprint(con, icpe_rel, ICPE_COLS)
    got["publish"] = fingerprint(
        con, f"SELECT * FROM read_csv('{q('publish')}/*.csv', header=true, all_varchar=true)",
        PUBLISH_COLS)
    for k, v in got.items():
        if list(v) != list(expected[k]):
            fails.append(f"{k}: engine {list(v)} != oracle {list(expected[k])}")
    rec, prec = con.execute(f"""
        WITH o AS (SELECT x.id, x.s3icNumeroSiret AS s, t.siret AS truth FROM ({icpe_rel}) x
                   JOIN truth t USING (codeS3ic))
        SELECT (SELECT count(DISTINCT id) FROM o WHERE s = truth) / (SELECT count(DISTINCT id) FROM o),
               (SELECT count(*) FROM o WHERE length(s) = 14 AND s = truth) /
               (SELECT count(*) FROM o WHERE length(s) = 14)""").fetchone()
    return fails, {"recall": float(rec), "precision": float(prec)}, sorted(got)


# --------------------------------------------------------------- curation

def curation_expected(d, min_len):
    con = connect()
    p = os.path.join(d, "documents.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{p}')")
    exact = con.execute("SELECT count(*) FROM (SELECT md5(text) FROM docs GROUP BY 1)").fetchone()[0]
    # spanScrub: docs holding an L-token window whose owner (the minimum
    # doc_id holding it, among windows held by >= 2 docs) is another doc
    con.execute(f"""CREATE TEMP TABLE w AS
        WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
                   FROM docs WHERE text IS NOT NULL)
        SELECT doc_id, hash(ts[i:i + {min_len - 1}]) AS g
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - {min_len - 2})) AS i
              FROM t WHERE len(ts) >= {min_len})""")
    scrubbed = con.execute("""
        WITH o AS (SELECT g, min(doc_id) AS owner FROM w GROUP BY g HAVING min(doc_id) < max(doc_id))
        SELECT count(DISTINCT doc_id) FROM w JOIN o USING (g) WHERE doc_id <> owner""").fetchone()[0]
    total, nonnull, multi = con.execute("""SELECT count(*), count(text),
        count(*) FILTER (WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2) FROM docs""").fetchone()
    return {"documents": int(total), "nonnull_docs": int(nonnull), "repetition_docs": int(multi),
            "exact_groups": int(exact), "scrubbed_docs": int(scrubbed)}
