"""Seeded inputs for the validate workloads.

Stages TPC-H `lineitem` as a fully quoted, pipe-delimited CSV in the
`<base>/inputs/<T>.csv` + `<base>/metadata/csv/<T>_metadata.csv` layout
that `graft.Main` reads, and writes `<base>/manifest.json` with what a
correct run must report. The expected counts are computed here, in
Python, without the engine: the quote-aware field count uses the
reference's raw-quote regex, and the typed counts follow from the
planted faults.
"""
import json
import os
import random
import re

import duckdb

TABLE = "LINEITEM"
SEP = "|"
QUOTE = '"'
DATE_FORMAT = "dd/MM/yyyy"
# (column, declared type), in file order: 8 NUMBER, 2 VARCHAR2, 1 DATE.
COLUMNS = [
    ("L_ORDERKEY", "NUMBER"), ("L_PARTKEY", "NUMBER"),
    ("L_SUPPKEY", "NUMBER"), ("L_LINENUMBER", "NUMBER"),
    ("L_QUANTITY", "NUMBER"), ("L_EXTENDEDPRICE", "NUMBER"),
    ("L_DISCOUNT", "NUMBER"), ("L_TAX", "NUMBER"),
    ("L_RETURNFLAG", "VARCHAR2"), ("L_LINESTATUS", "VARCHAR2"),
    ("L_SHIPDATE", "DATE"),
]
NUMBER_COLS = [i for i, (_, t) in enumerate(COLUMNS) if t == "NUMBER"]
VARCHAR_COLS = [i for i, (_, t) in enumerate(COLUMNS) if t == "VARCHAR2"]
DATE_COL = next(i for i, (_, t) in enumerate(COLUMNS) if t == "DATE")

# Share of rows whose VARCHAR2 value holds the separator inside its quotes.
QUOTED_SEP_SHARE = 0.01
# Planted faults, each on its own row (validate_faults only).
BAD_NUMBERS = 200
BAD_DATES = 200
BLANKS = 200
EXTRA_FIELD_LINES = 12

# The reference's quote-aware field regex with the quote inserted raw
# (graft.validate.FieldCounting.quoteAwareRegex for '|' and '"').
FIELD_RE = re.compile(
    r'(?:(?:[^|"]|"[^"]*(?:"|$))+|(?=\|\|)|(?=\|$)|(?=^\|))')


def quoted(v):
    return QUOTE + v + QUOTE


def source_rows(parquet, limit):
    con = duckdb.connect()
    return con.sql(
        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,"
        " l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,"
        " strftime(l_shipdate, '%d/%m/%Y')"
        f" FROM read_parquet('{parquet}') LIMIT {int(limit)}").fetchall()


def metadata_csv():
    lines = ["COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;"
             "DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT"]
    for name, typ in COLUMNS:
        fmt = DATE_FORMAT if typ == "DATE" else ""
        lines.append(f"{name};{typ};{QUOTE};{SEP};.;FALSE;{fmt}")
    return "\n".join(lines) + "\n"


def generate(parquet, base, seed, faults, limit):
    """Write the first `limit` rows of the table, its metadata and the
    manifest under `base`."""
    rng = random.Random(seed)
    rows = [[str(v) for v in r] for r in source_rows(parquet, limit)]
    n = len(rows)

    for i in rng.sample(range(n), int(n * QUOTED_SEP_SHARE)):
        c = rng.choice(VARCHAR_COLS)
        rows[i][c] = rows[i][c] + SEP + rng.choice("ABNORF")

    typed = {}      # (column, check) -> planted count
    typed_rows = 0  # rows the typed sink must hold
    extra = set()
    if faults:
        picks = rng.sample(range(n), BAD_NUMBERS + BAD_DATES + BLANKS
                           + EXTRA_FIELD_LINES)
        bad_num = picks[:BAD_NUMBERS]
        bad_date = picks[BAD_NUMBERS:BAD_NUMBERS + BAD_DATES]
        blank = picks[BAD_NUMBERS + BAD_DATES:-EXTRA_FIELD_LINES]
        extra = set(picks[-EXTRA_FIELD_LINES:])

        def plant(col, check):
            key = (COLUMNS[col][0], check)
            typed[key] = typed.get(key, 0) + 1
        for i in bad_num:
            c = rng.choice(NUMBER_COLS)
            rows[i][c] = rows[i][c] + "x"
            plant(c, "type_format")
        for i in bad_date:
            rows[i][DATE_COL] = rows[i][DATE_COL].replace("/", "-")
            plant(DATE_COL, "type_format")
        for i in blank:
            c = rng.randrange(len(COLUMNS))
            rows[i][c] = ""
            plant(c, "not_null")
        typed_rows = len(bad_num) + len(bad_date) + len(blank)

    header = SEP.join(name for name, _ in COLUMNS)
    lines = [header]
    for i, r in enumerate(rows):
        line = SEP.join(quoted(v) for v in r)
        if i in extra:
            line += SEP + quoted("EXTRA")
        lines.append(line)

    width = len(COLUMNS)
    miscounted = sum(1 for ln in lines if len(FIELD_RE.findall(ln)) != width)

    os.makedirs(os.path.join(base, "inputs"), exist_ok=True)
    os.makedirs(os.path.join(base, "metadata", "csv"), exist_ok=True)
    table_path = os.path.join(base, "inputs", TABLE + ".csv")
    with open(table_path, "w", newline="") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(base, "metadata", "csv",
                           TABLE + "_metadata.csv"), "w") as f:
        f.write(metadata_csv())

    checks = {"column_names": 0, "field_count_quoted": miscounted}
    for name, typ in COLUMNS:
        if typ != "VARCHAR2":
            checks[f"typed:{name}:type_format"] = typed.get(
                (name, "type_format"), 0)
        checks[f"typed:{name}:not_null"] = typed.get((name, "not_null"), 0)
    verdict = "PASS" if all(v == 0 for v in checks.values()) else "FAIL"
    manifest = {
        "table": TABLE,
        "seed": seed,
        "rows": n,
        "bytes": os.path.getsize(table_path),
        "verdict": verdict,
        "exit_code": 0 if verdict == "PASS" else 1,
        "failed_count": checks,
        # Corrupt rows the CSV reader flags: the lines with an extra field.
        "sink_rows": {"TMP": len(extra), "TMP_TYPED": typed_rows},
    }
    with open(os.path.join(base, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

