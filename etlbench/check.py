"""Output checks, independent of the program: every run-function call's
output is read back with DuckDB and compared with the generator's truth.

Each check returns (ok, recall, precision, rows dropped, detail). Recall and precision
compare the ids the program removed from its main output (filtered out,
quarantined, or dropped as duplicates) with the ids the generator planted
for removal.
"""

import json
import os

import duckdb

# near_dedup: the least share of planted duplicates that must be found,
# and the least share of dropped documents that must be planted ones
DEDUP_MIN_RECALL = 0.97
DEDUP_MIN_PRECISION = 0.99


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _recall_precision(dropped, planted):
    hit = len(dropped & planted)
    recall = hit / len(planted) if planted else 1.0
    precision = hit / len(dropped) if dropped else 1.0
    return recall, precision


def _load(path, name):
    with open(os.path.join(path, name)) as f:
        return json.load(f)


def check_csv_ingest(data, out):
    truth = _load(data, "truth.json")
    exp = truth["expected"]
    n = truth["input_rows"]
    con = _con()
    con.execute("CREATE VIEW o AS SELECT * FROM read_parquet('%s/output.parquet/*.parquet')" % out)
    types = dict(con.execute("SELECT column_name, column_type FROM (DESCRIBE o)").fetchall())
    want = {"id": "BIGINT", "qty": "BIGINT", "price": "DOUBLE", "active": "BOOLEAN",
            "created_at": "TIMESTAMP", "signup": "TIMESTAMP", "name": "VARCHAR",
            "total": "DOUBLE", "name_uc": "VARCHAR"}
    bad_types = {k: types.get(k) for k, v in want.items()
                 if not str(types.get(k, "")).startswith(v)}
    if bad_types:
        return False, 0.0, 0.0, 0, "column types %s" % bad_types
    got = con.execute("""SELECT count(*), sum(id), sum(qty), sum(total), count(total),
        count(created_at), sum(epoch(created_at))::BIGINT, count(signup),
        sum(epoch(signup))::BIGINT, count(name_uc), sum(length(name_uc)),
        count_if(active), count(price),
        count_if(name_uc IS DISTINCT FROM upper(name)) FROM o""").fetchone()
    keys = ["rows", "id_sum", "qty_sum", "total_sum", "total_count", "created_count",
            "created_epoch_sum", "signup_count", "signup_epoch_sum", "name_count",
            "name_len_sum", "active_true", "price_count"]
    diffs = []
    for k, v in zip(keys, got):
        e = exp[k]
        same = abs((v or 0) - e) <= 1e-9 * max(1.0, abs(e)) if k == "total_sum" else v == e
        if not same:
            diffs.append("%s=%s want %s" % (k, v, e))
    if got[-1]:
        diffs.append("%d rows with name_uc != upper(name)" % got[-1])
    kept = {r[0] for r in con.execute("SELECT id FROM o").fetchall()}
    dropped = set(range(1, n + 1)) - kept
    recall, precision = _recall_precision(dropped, set(_load(data, "dropped_ids.json")))
    ok = not diffs and recall == 1.0 and precision == 1.0
    return ok, recall, precision, len(dropped), "; ".join(diffs)


def check_parquet_validate_export(data, out):
    truth = _load(data, "truth.json")
    n = truth["input_rows"]
    planted = set(_load(data, "rejected_ids.json"))
    con = _con()
    valid = con.execute("""SELECT count(*), count(DISTINCT id), sum(amount)
        FROM read_json('%s/valid.json/*.json', format='newline_delimited')""" % out).fetchone()
    rejected = {int(r[0]) for r in con.execute(
        "SELECT id FROM read_csv('%s/rejects.csv/*.csv', header=true, all_varchar=true)"
        % out).fetchall()}
    valid_ids = {r[0] for r in con.execute(
        "SELECT id FROM read_json('%s/valid.json/*.json', format='newline_delimited')"
        % out).fetchall()}
    diffs = []
    if valid[0] + len(rejected) != n:
        diffs.append("valid %d + rejected %d != input %d" % (valid[0], len(rejected), n))
    if valid[1] != valid[0]:
        diffs.append("duplicate ids in valid output")
    if valid_ids & rejected:
        diffs.append("%d ids both valid and rejected" % len(valid_ids & rejected))
    if abs((valid[2] or 0.0) - truth["valid_amount_sum"]) > 1e-6 * truth["valid_amount_sum"]:
        diffs.append("valid amount sum %s want %s" % (valid[2], truth["valid_amount_sum"]))
    dropped = set(range(1, n + 1)) - valid_ids
    recall, precision = _recall_precision(dropped, planted)
    if rejected != planted:
        diffs.append("rejected set differs from planted (%d vs %d)" % (len(rejected), len(planted)))
    ok = not diffs and recall == 1.0 and precision == 1.0
    return ok, recall, precision, len(dropped), "; ".join(diffs)


def check_near_dedup(data, out):
    truth = _load(data, "truth.json")
    n = truth["input_rows"]
    planted = set(_load(data, "duplicate_ids.json"))
    con = _con()
    kept = [r[0] for r in con.execute(
        "SELECT id FROM read_parquet('%s/survivors.parquet/*.parquet') WHERE text IS NOT NULL"
        % out).fetchall()]
    diffs = []
    if len(kept) != len(set(kept)):
        diffs.append("duplicate ids in output")
    kept = set(kept)
    if not kept <= set(range(1, n + 1)):
        diffs.append("ids outside the input")
    dropped = set(range(1, n + 1)) - kept
    recall, precision = _recall_precision(dropped, planted)
    if recall < DEDUP_MIN_RECALL:
        diffs.append("recall %.4f < %.2f" % (recall, DEDUP_MIN_RECALL))
    if precision < DEDUP_MIN_PRECISION:
        diffs.append("precision %.4f < %.2f" % (precision, DEDUP_MIN_PRECISION))
    return not diffs, recall, precision, len(dropped), "; ".join(diffs)


def candidate_pairs(data, out):
    """(candidate pair count, share of them inside one planted cluster)."""
    con = _con()
    total, true = con.execute("""SELECT count(*), count_if(a.cluster = b.cluster)
        FROM read_parquet('%s/candidates.parquet/*.parquet') c
        JOIN read_parquet('%s/truth.parquet') a ON a.id = c.id_a
        JOIN read_parquet('%s/truth.parquet') b ON b.id = c.id_b""" % (out, data, data)).fetchone()
    return total, (true / total if total else 1.0)


CHECKS = {
    "csv_ingest": check_csv_ingest,
    "parquet_validate_export": check_parquet_validate_export,
    "near_dedup": check_near_dedup,
}
