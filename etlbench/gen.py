"""Seeded input generators for the three benchmark workloads.

Each generator writes its input files plus ``truth.json`` (and, for the
dedup corpus, ``truth.parquet``) into one directory. The same seed always
gives byte-identical inputs. The program under test only ever sees the
input files; the truth stays with the benchmark's output checks.
"""

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CSV_ROWS = 40_000
VALIDATE_ROWS = 150_000
DEDUP_DOCS = 6_000

EMPTY_FRAC = 0.10          # share of empty cells in every nullable CSV column
VIOLATION_FRAC = 0.07      # share of planted schema violations
NEAR_COPY_FRAC = 0.15      # share of documents that are edited near-copies
EXACT_COPY_FRAC = 0.05     # share of documents that are verbatim copies
EDIT_FRAC = 0.03           # share of a near-copy's words that are replaced

# inline transform and filter of the csv_ingest job (graft YAML syntax)
CSV_TRANSFORM = "total = row.qty * row.price; name_uc = string.upper(row.name)"
CSV_FILTER = "row.qty >= 20"
CSV_MIN_QTY = 20

SCHEMA_YAML = """columns:
  - name: id
    type: integer
    nullable: false
  - name: name
    type: string
  - name: email
    type: string
    pattern: '^[a-z0-9.]+@[a-z0-9]+[.][a-z]+$'
  - name: country
    type: string
    pattern: '^[A-Z]{2}$'
  - name: age
    type: integer
    nullable: false
  - name: amount
    type: decimal
"""

_EPOCH = dt.datetime(1970, 1, 1)
_FIRST = ["Ann", "Bo", "Cy", "Dee", "Eli", "Fay", "Gus", "Hal", "Ida", "Jo",
          "Kai", "Lu", "Max", "Nia", "Oz", "Pia", "Quin", "Rae", "Sol", "Tess"]
_LAST = ["Smith", "Jones", "Brown", "Lee", "Garcia", "Kim", "Patel", "Nguyen",
         "Silva", "Rossi", "Novak", "Haas", "Berg", "Ito", "Diaz", "Moreau"]
_CITIES = ["Oslo", "Lima", "Pune", "Kyiv", "Perth", "Quito", "Turin", "Cork",
           "Split", "Malmo", "Porto", "Graz", "Leeds", "Nantes", "Delft"]
_COUNTRIES = ["US", "DE", "FR", "JP", "BR", "IN", "NO", "PE", "UA", "AU"]


def _letters(rng, n, lo, hi):
    """n random lowercase ASCII words with lengths in [lo, hi]."""
    lens = rng.integers(lo, hi + 1, size=n)
    codes = rng.integers(ord("a"), ord("z") + 1, size=int(lens.sum()), dtype=np.uint8)
    out, pos = [], 0
    raw = codes.tobytes()
    for ln in lens:
        out.append(raw[pos:pos + ln].decode("ascii"))
        pos += ln
    return out


def _done(path):
    return os.path.exists(os.path.join(path, "truth.json"))


def _fresh(path):
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def _publish(tmp, path, truth):
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def gen_csv_ingest(path, seed):
    """A wide mixed-type CSV: ints, decimals, true/false, ISO datetimes,
    M/d/yyyy dates, quoted strings with commas and doubled quotes, and
    ~10% empty cells in every column but ``id``."""
    if _done(path):
        return
    rng = np.random.default_rng([seed, 1])
    tmp = _fresh(path)
    n = CSV_ROWS
    ids = np.arange(1, n + 1, dtype=np.int64)
    qty = rng.integers(0, 100, size=n)
    price_c = rng.integers(100, 100_000, size=n)            # cents
    disc_m = rng.integers(-5_000, 5_000, size=n)            # thousandths
    active = rng.random(n) < 0.6
    created = rng.integers(1_500_000_000, 1_750_000_000, size=n)
    signup_days = rng.integers(0, 20_000, size=n)
    visits = rng.integers(0, 1_000_000, size=n)
    score_c = rng.integers(0, 10_000, size=n)
    first = rng.integers(0, len(_FIRST), size=n)
    last = rng.integers(0, len(_LAST), size=n)
    nick = rng.integers(0, len(_FIRST), size=n)
    city = rng.integers(0, len(_CITIES), size=n)
    country = rng.integers(0, len(_COUNTRIES), size=n)
    note_words = _letters(rng, n, 250, 350)
    cols = ["id", "qty", "price", "discount", "active", "created_at",
            "signup", "name", "city", "country", "visits", "score", "notes"]
    empty = rng.random((n, len(cols))) < EMPTY_FRAC
    empty[:, 0] = False

    exp = dict(rows=0, id_sum=0, qty_sum=0, total_sum=0.0, total_count=0,
               created_count=0, created_epoch_sum=0, signup_count=0,
               signup_epoch_sum=0, name_count=0, name_len_sum=0,
               active_true=0, price_count=0)
    lines = [",".join(cols)]
    dropped = []
    for i in range(n):
        e = empty[i]
        qty_s = "" if e[1] else str(qty[i])
        price = price_c[i] / 100.0
        price_s = "" if e[2] else "%d.%02d" % divmod(int(price_c[i]), 100)
        d = int(disc_m[i])
        disc_s = "" if e[3] else ("-" if d < 0 else "") + "%d.%03d" % divmod(abs(d), 1000)
        act_s = "" if e[4] else ("true" if active[i] else "false")
        c_dt = _EPOCH + dt.timedelta(seconds=int(created[i]))
        created_s = "" if e[5] else c_dt.strftime("%Y-%m-%dT%H:%M:%S")
        s_d = dt.date(1990, 1, 1) + dt.timedelta(days=int(signup_days[i]))
        signup_s = "" if e[6] else "%d/%d/%d" % (s_d.month, s_d.day, s_d.year)
        name = '%s, %s "%s"' % (_LAST[last[i]], _FIRST[first[i]], _FIRST[nick[i]])
        name_s = "" if e[7] else '"' + name.replace('"', '""') + '"'
        city_s = "" if e[8] else _CITIES[city[i]]
        country_s = "" if e[9] else _COUNTRIES[country[i]]
        visits_s = "" if e[10] else str(visits[i])
        score_s = "" if e[11] else "%d.%02d" % divmod(int(score_c[i]), 100)
        notes_s = "" if e[12] else '"%s, %s, %s"' % (
            note_words[i][:120], note_words[i][120:], _CITIES[city[i]])
        lines.append(",".join([str(ids[i]), qty_s, price_s, disc_s, act_s,
                               created_s, signup_s, name_s, city_s, country_s,
                               visits_s, score_s, notes_s]))
        if e[1] or qty[i] < CSV_MIN_QTY:
            dropped.append(int(ids[i]))
            continue
        exp["rows"] += 1
        exp["id_sum"] += int(ids[i])
        exp["qty_sum"] += int(qty[i])
        if not e[2]:
            exp["price_count"] += 1
            exp["total_count"] += 1
            exp["total_sum"] += int(qty[i]) * price
        if not e[5]:
            exp["created_count"] += 1
            exp["created_epoch_sum"] += int(created[i])
        if not e[6]:
            exp["signup_count"] += 1
            exp["signup_epoch_sum"] += int(
                (dt.datetime(s_d.year, s_d.month, s_d.day) - _EPOCH).total_seconds())
        if not e[7]:
            exp["name_count"] += 1
            exp["name_len_sum"] += len(name)
        if not e[4] and active[i]:
            exp["active_true"] += 1
    with open(os.path.join(tmp, "input.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    job = """version: 1
source:
  uri: "${SRC}"
target:
  uri: "${TGT}"
options:
  transform: "%s"
  filter: "%s"
  log_level: error
""" % (CSV_TRANSFORM, CSV_FILTER)
    with open(os.path.join(tmp, "job.yaml"), "w") as f:
        f.write(job)
    with open(os.path.join(tmp, "dropped_ids.json"), "w") as f:
        json.dump(dropped, f)
    _publish(tmp, path, {"input_rows": n, "expected": exp})


def gen_parquet_validate(path, seed):
    """Typed Parquet checked against a schema file; ~7% of rows carry one
    planted violation (required null, bad email or bad country code)."""
    if _done(path):
        return
    rng = np.random.default_rng([seed, 2])
    tmp = _fresh(path)
    n = VALIDATE_ROWS
    ids = rng.permutation(np.arange(1, n + 1, dtype=np.int64))
    first = rng.integers(0, len(_FIRST), size=n)
    last = rng.integers(0, len(_LAST), size=n)
    user = _letters(rng, n, 3, 10)
    domain = _letters(rng, n, 3, 8)
    names = ["%s %s" % (_FIRST[a], _LAST[b]) for a, b in zip(first, last)]
    address = _letters(rng, n, 80, 120)
    emails = ["%s.%s@%s.com" % (u, _LAST[b].lower(), d)
              for u, b, d in zip(user, last, domain)]
    country = [_COUNTRIES[c] for c in rng.integers(0, len(_COUNTRIES), size=n)]
    age = rng.integers(18, 90, size=n).astype(object)
    amount = np.round(rng.random(n) * 10_000, 2)
    bad = rng.random(n) < VIOLATION_FRAC
    kind = rng.integers(0, 3, size=n)
    for i in np.flatnonzero(bad):
        if kind[i] == 0:
            age[i] = None
        elif kind[i] == 1:
            emails[i] = emails[i].replace("@", " at ")
        else:
            country[i] = country[i].lower()
    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "name": pa.array(names, pa.string()),
        "email": pa.array(emails, pa.string()),
        "country": pa.array(country, pa.string()),
        "age": pa.array(list(age), pa.int64()),
        "amount": pa.array(amount, pa.float64()),
        "address": pa.array(address, pa.string()),
    })
    pq.write_table(table, os.path.join(tmp, "input.parquet"),
                   row_group_size=max(1, n // 16))
    with open(os.path.join(tmp, "schema.yaml"), "w") as f:
        f.write(SCHEMA_YAML)
    rejected = sorted(int(x) for x in ids[bad])
    with open(os.path.join(tmp, "rejected_ids.json"), "w") as f:
        json.dump(rejected, f)
    valid_amount = float(amount[~bad].sum())
    _publish(tmp, path, {"input_rows": n, "rejected": len(rejected),
                         "valid_amount_sum": valid_amount})


def gen_near_dedup(path, seed):
    """Zipfian word documents (60-200 words) with planted near-copies
    (~3% of words replaced) and verbatim copies, shuffled under random
    ids. ``truth.parquet`` maps every id to its planted cluster."""
    if _done(path):
        return
    docs = DEDUP_DOCS
    rng = np.random.default_rng([seed, 3])
    tmp = _fresh(path)
    vocab = np.array(_letters(rng, 20_000, 2, 9), dtype=object)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = 1.0 / ranks ** 1.05
    p /= p.sum()
    n_near = int(round(docs * NEAR_COPY_FRAC))
    n_exact = int(round(docs * EXACT_COPY_FRAC))
    n_orig = docs - n_near - n_exact
    lens = rng.integers(60, 201, size=n_orig)
    words = rng.choice(len(vocab), size=int(lens.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    originals = [words[bounds[i]:bounds[i + 1]] for i in range(n_orig)]
    texts = [" ".join(vocab[w]) for w in originals]
    cluster = list(range(n_orig))
    for src in rng.integers(0, n_orig, size=n_near):
        w = originals[src].copy()
        k = max(1, int(round(len(w) * EDIT_FRAC)))
        pos = rng.choice(len(w), size=k, replace=False)
        w[pos] = rng.integers(0, len(vocab), size=k)
        texts.append(" ".join(vocab[w]))
        cluster.append(int(src))
    for src in rng.integers(0, n_orig, size=n_exact):
        texts.append(texts[src])
        cluster.append(int(src))
    ids = rng.permutation(np.arange(1, docs + 1, dtype=np.int64))
    cluster = np.array(cluster, dtype=np.int64)
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   os.path.join(tmp, "input.parquet"),
                   row_group_size=max(1, docs // 16))
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "cluster": pa.array(cluster, pa.int64())}),
                   os.path.join(tmp, "truth.parquet"))
    # a planted cluster keeps its smallest id; every other member is a duplicate
    keep = {}
    for i, c in zip(ids.tolist(), cluster.tolist()):
        keep[c] = min(i, keep.get(c, i))
    dups = sorted(i for i, c in zip(ids.tolist(), cluster.tolist()) if keep[c] != i)
    with open(os.path.join(tmp, "duplicate_ids.json"), "w") as f:
        json.dump(dups, f)
    _publish(tmp, path, {"input_rows": docs, "duplicates": len(dups)})


GENERATORS = {
    "csv_ingest": gen_csv_ingest,
    "parquet_validate_export": gen_parquet_validate,
    "near_dedup": gen_near_dedup,
}
