#!/usr/bin/env python3
"""DuckDB oracle of the analytics_mix workload.

  oracle.py <sf_dir> <oracle_sql.json> <out.json>

Runs each query's oracle SQL (SparkEntry.oracleSql) over the fixture
parquet tables and writes {query: {"rows", "hash", "types"}}: the result
in the canonical form that graft.perfbench.Canon computes from the
engine's rows, so the two compare by hash. See Canon.scala for the rules.
"""
import calendar
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import sys

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']

INT_TYPES = {'TINYINT', 'SMALLINT', 'INTEGER', 'BIGINT', 'UTINYINT',
             'USMALLINT', 'UINTEGER', 'UBIGINT'}


def type_class(t):
    t = str(t)
    if t in INT_TYPES:
        return 'int'
    if t in ('FLOAT', 'DOUBLE'):
        return 'float'
    if t.startswith('DECIMAL'):
        return 'decimal'
    if t == 'VARCHAR':
        return 'str'
    if t == 'BOOLEAN':
        return 'bool'
    if t == 'DATE':
        return 'date'
    if t.startswith('TIMESTAMP'):
        return 'ts'
    if t.endswith(']'):
        return 'list'
    if t.startswith('STRUCT'):
        return 'struct'
    if t.startswith('MAP'):
        return 'map'
    if t == 'BLOB':
        return 'bytes'
    return t.lower()  # e.g. HUGEINT: never equal to an engine type


def canon_float(v):
    if math.isnan(v):
        return 'NaN'
    if math.isinf(v):
        return 'Inf' if v > 0 else '-Inf'
    if v == int(v) and abs(v) < 2**53:
        return str(int(v))
    return 'f' + str(struct.unpack('<q', struct.pack('<d', v))[0])


def value(v):
    if v is None:
        return 'NULL'
    if isinstance(v, bool):
        return 'true' if v else 'false'
    if isinstance(v, float):
        return canon_float(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return format(v.normalize(), 'f')
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return 't' + str(calendar.timegm(v.timetuple()) * 10**6 + v.microsecond)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        if set(v) == {'key', 'value'} and isinstance(v['key'], list):
            kv = zip(v['key'], v['value'])  # a DuckDB MAP
            return '{' + ','.join(sorted(value(k) + ':' + value(x) for k, x in kv)) + '}'
        return '{' + ','.join(value(x) for x in v.values()) + '}'
    if isinstance(v, (list, tuple)):
        return '[' + ','.join(value(x) for x in v) + ']'
    return str(v)


def canonical(rel):
    cols = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    lines = sorted('\x01'.join(value(row[i]) for i in cols).encode()
                   for row in rel.fetchall())
    h = hashlib.sha256('\x02'.join(rel.columns[i] for i in cols).encode())
    for line in lines:
        h.update(b'\x00' + line)
    return {'rows': len(lines), 'hash': h.hexdigest(),
            'types': {rel.columns[i]: type_class(rel.types[i]) for i in cols}}


def main(sf_dir, sql_file, out_file):
    import duckdb
    con = duckdb.connect()
    con.execute(f'SET threads TO {min(4, os.cpu_count() or 1)}')
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(sql_file) as fh:
        sqls = json.load(fh)
    out = {q: canonical(con.sql(sql)) for q, sql in sqls.items()}
    with open(out_file, 'w') as fh:
        json.dump(out, fh)


if __name__ == '__main__':
    main(*sys.argv[1:])
