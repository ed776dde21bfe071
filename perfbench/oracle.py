"""DuckDB oracle checksums for the batch workloads.

Each registered query has an oracle SQL twin (`SparkEntry.oracleSql`).
This module runs it in DuckDB over the same generated parquet files and
folds the result into the same order-independent checksum the harness
folds over Spark's result (`Checksum.scala`): the row count and the sum,
modulo 2^64, of a 64-bit MD5 prefix of each row's canonical encoding.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
_DIGITS = decimal.Context(prec=10, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DAY = datetime.date(1970, 1, 1)


def canon_decimal(d):
    if d == 0:
        return "0e0"
    sign, digits, exp = _DIGITS.plus(d).normalize(_DIGITS).as_tuple()
    unscaled = int("".join(map(str, digits)))
    return f"{-unscaled if sign else unscaled}e{exp}"


def canon_float(x):
    if math.isnan(x):
        return "nan"
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    if x == 0.0:
        return "0e0"
    return canon_decimal(decimal.Decimal(x))


def _enc(v, out):
    if v is None:
        out.append(b"N;")
    elif isinstance(v, bool):
        out.append(b"b1;" if v else b"b0;")
    elif isinstance(v, int):
        out.append(f"i{v};".encode())
    elif isinstance(v, float):
        out.append(f"f{canon_float(v)};".encode())
    elif isinstance(v, decimal.Decimal):
        out.append(f"f{canon_decimal(v)};".encode())
    elif isinstance(v, str):
        b = v.encode("utf-8")
        out.append(f"s{len(b)}:".encode() + b + b";")
    elif isinstance(v, (bytes, bytearray, memoryview)):
        out.append(f"x{bytes(v).hex()};".encode())
    elif isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        out.append(f"t{(v - _EPOCH) // datetime.timedelta(microseconds=1)};".encode())
    elif isinstance(v, datetime.date):
        out.append(f"d{(v - _EPOCH_DAY).days};".encode())
    elif isinstance(v, (list, tuple)):
        out.append(b"[")
        for e in v:
            _enc(e, out)
        out.append(b"]")
    elif isinstance(v, dict):
        out.append(b"{")
        for e in v.values():
            _enc(e, out)
        out.append(b"}")
    else:
        out.append(f"?{v};".encode())


def row_hash(values):
    out = []
    for v in values:
        _enc(v, out)
    return int.from_bytes(hashlib.md5(b"".join(out)).digest()[:8], "big")


def checksum(names, rows):
    """`rows:hex` of a result, columns taken in name order."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash([r[i] for i in order])) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return f"{n}:{total:x}"


def oracle_checksums(data_dir, oracle_sql, names, cache_dir, fingerprint, threads=4):
    """Checksum of each named query's oracle over `data_dir`, cached by the
    input fingerprint and the SQL text. Returns {name: "rows:hex" | None}."""
    import duckdb
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    con = None
    for name in names:
        sql = oracle_sql.get(name)
        if sql is None:
            out[name] = None
            continue
        key = hashlib.sha256(f"{fingerprint}\n{sql}".encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)["checksum"]
            continue
        if con is None:
            con = duckdb.connect()
            con.execute(f"SET threads={threads}")
            con.execute("SET preserve_insertion_order=false")
            for t in TABLES:
                p = os.path.join(data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = checksum(cols, cur.fetchall())
        except Exception as e:  # an oracle error is a failed check, not a crash
            out[name] = f"oracle error: {str(e)[:200]}"
            continue
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"query": name, "checksum": out[name]}, f)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out
