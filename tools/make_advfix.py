#!/usr/bin/env python3
"""Build the ADVERSARIAL fixture: sf0.001 with hostile documents rows.

The clean fixtures can't exercise the engine-vs-oracle boundary cases
(empty/whitespace-only text, vertical tab + formfeed, NBSP, CJK,
surrogate-pair emoji, trailing backslashes, CR/LF variants, a 9000-char
token, exact/near dups across sources). This writes /tmp/advfix9/sf9,
or the directory given as its one argument — every sf0.001 table
copied, documents, events, embeddings and the relational tables
extended with hostile rows — and the normal gate runs against it:

    python3 tools/make_advfix.py            # or: tools/make_advfix.py OUT_DIR
    SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /tmp/advfix9/sf9 /tmp/verify_adv"
    python3 tools/check_oracle.py /tmp/advfix9/sf9 /tmp/verify_adv

Round-9 findings from this gate (all fixed): Java `\\s` (includes VT)
vs RE2 `\\s` (doesn't) diverged every token count and, through corpus
stats like BM25's avgdl, every score; DuckDB `CAST(text AS BLOB)`
interprets \\xNN escapes so backslash-bearing text crashed three
oracles (encode() is the raw-bytes form); Java `\\b` is Unicode-aware
while RE2's is ASCII, so `\\bs[a-z]+\\b` disagreed on 'straße'.
"""
import argparse
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SRC = '/root/testdata/sf0.001'
DST = '/tmp/advfix9/sf9'


def adversarial_rows():
    return [
        ('', 'en', 'webz'),                                 # empty text
        ('   ', 'en', 'webz'),                              # spaces only
        ('\t\n\r  \t', 'de', 'webz'),                       # mixed ws only
        ('word', 'en', 'webz'),                             # single token
        ('the the the the the the the the', 'en', 'webz'),  # repetition
        ('a,b,"c" \'d\' `e` |f| \\g\\', 'en', 'webz'),      # quotes/seps
        ('line1\nline2\r\nline3\rline4', 'en', 'webz'),     # CR/LF forms
        ('tok' * 3000 + ' end', 'en', 'webz'),              # 9000-char token
        ('café naïve über straße', 'de', 'webz'),
        ('日本語 テキスト 中文',
         'ja', 'webz'),                                     # CJK
        ('emoji \U0001F600 \U0001F680 mix', 'en', 'webz'),  # surrogates
        ('vertical\x0btab and formfeed\x0chere', 'en', 'webz'),  # VT + FF
        ('nbsp separated words', 'en', 'webz'),   # NBSP
        ('Tab\tsep\tcols', 'en', 'webz'),                   # inner tabs
        ('UPPER lower MiXeD 123 456', 'en', 'webz'),        # case/digits
        ('the quick brown fox jumps over the lazy dog', 'en', 'webz'),
        ('the quick brown fox jumps over the lazy dog', 'en', 'webx'),
        ('the quick brown fox leaps over the lazy dog', 'en', 'webz'),
    ]


def main(dst):
    os.makedirs(dst, exist_ok=True)
    for t in ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
              'lineitem', 'events', 'embeddings']:
        shutil.copy(f'{SRC}/{t}.parquet', f'{dst}/{t}.parquet')
    # hostile EVENTS rows: unique ids past the fixture range; malformed/
    # string-valued props, a brand-new event_type, boundary + duplicate
    # timestamps, and extreme values. Null ts/user/value rows are NOT
    # included: Spark windows order ASC NULLS FIRST where DuckDB orders
    # NULLS LAST, so a null-ts event makes every session/lag oracle
    # ambiguous BY DESIGN — the engine's null-time semantics are pinned
    # in specs instead (as-of: null time matches nothing).
    ev = pq.read_table(f'{dst}/events.parquet').to_pandas()
    base_ts = pd.Timestamp('2024-01-15 00:00:00')
    hostile = pd.DataFrame({
        'event_id': [2001, 2002, 2003, 2004, 2005, 2006],
        'ts': [base_ts, base_ts,                      # exact dup ts, same user
               pd.Timestamp('2024-01-01 00:00:00'),   # window-bin edge
               pd.Timestamp('2024-01-31 23:59:59.999999'),  # range end
               base_ts + pd.Timedelta(microseconds=1),      # 1us apart
               pd.Timestamp('2024-01-20 12:00:00')],
        'user_id': [3, 3, 0, 14, 3, 7],
        'event_type': ['view', 'purchase', 'weird type', 'view', 'view',
                       'click'],
        'value': [0.005, 999999.99, 0.0, 327.53, 1.0, 2.5],  # ties + tiny
        'props': ['{}', 'not json', '', '{"k": "x"}', None, '{"k": -5}'],
    })
    out_ev = pd.concat([ev, hostile], ignore_index=True)
    ev_tbl = pq.read_table(f'{SRC}/events.parquet')
    pq.write_table(pa.Table.from_pandas(out_ev, schema=ev_tbl.schema,
                                        preserve_index=False),
                   f'{dst}/events.parquet')
    print(f'wrote {len(out_ev)} events')
    # hostile RELATIONAL rows. Customer/supplier names carry the CSV
    # round-trip kill set (embedded comma, double-quote, newline, CR,
    # the pipe separator itself, leading/trailing spaces) plus a
    # dangling FK (nationkey 99) and a null name for join/string edges.
    def extend(table, rows):
        t = pq.read_table(f'{SRC}/{table}.parquet')
        df2 = t.to_pandas()
        add_df = pd.DataFrame(rows)
        out2 = pd.concat([df2, add_df], ignore_index=True)
        pq.write_table(pa.Table.from_pandas(out2, schema=t.schema,
                                            preserve_index=False),
                       f'{dst}/{table}.parquet')
        print(f'wrote {len(out2)} {table}')

    extend('customer', {
        'c_custkey': [901, 902, 903, 904, 905, 906],
        'c_name': ['Comma, Inc.', 'Quote "Q" Corp', 'Line\nBreak LLC',
                   '  padded name  ', None, 'Pipe|Name & Co'],
        'c_nationkey': [0, 1, 2, 99, 3, None],
        'c_acctbal': [-999.99, 0.0, 0.01, 9999.99, 1.0, 2.0],
        'c_mktsegment': ['BUILDING', 'AUTOMOBILE', 'BUILDING',
                         # MACHINERY not ODDBALL: the strict remap's
                         # abort-on-unmapped contract is spec-pinned;
                         # the gate exercises mapped + null segments
                         'MACHINERY', 'BUILDING', None],
    })
    extend('supplier', {
        's_suppkey': [901, 902, 903],
        's_name': ['Pipe|Supplier', 'CR\rReturn Co', 'Tab\tSupply'],
        's_nationkey': [0, 99, None],
        's_acctbal': [-1.0, 0.0, 123.45],
    })
    extend('orders', {
        'o_orderkey': [9001, 9002],
        'o_custkey': [901, 999],            # hostile cust + dangling FK
        'o_orderstatus': ['F', 'Z'],        # novel status
        'o_totalprice': [0.0, 499999.99],
        'o_orderdate': [None, pd.Timestamp('2024-12-31 23:59:59')],
        'o_orderpriority': ['1-URGENT', None],
    })
    extend('lineitem', {
        'l_orderkey': [9001, 9002],
        'l_partkey': [0, 1],
        'l_suppkey': [901, 0],
        'l_linenumber': [1, 1],
        'l_quantity': [1000000.0, 1.0],     # extreme + tiny qty
        # (non-positive qty would trip q_quality_gate's by-design
        # ingest abort — that contract is spec-pinned instead)
        'l_extendedprice': [0.01, 1e9],
        'l_discount': [0.0, 1.0],
        'l_tax': [0.0, 0.0],
        'l_returnflag': ['X', None],        # novel flag + null
        'l_linestatus': ['O', 'F'],
        'l_shipdate': [None, pd.Timestamp('2024-12-31 00:00:00')],
    })
    # hostile EMBEDDINGS rows: the all-zero vector (cosine undefined —
    # the zero-norm guard must keep it out of every ranking in both
    # engines), an exact duplicate of an existing vector (tie handling
    # in top-k: deterministic id tiebreaks), and a constant vector.
    # Deliberately NOT included: ragged dims (vec_dot's min-length fold
    # vs zip_with's null-padding is a documented keep-equal-length
    # contract) and NaN components (NaN ordering is engine-ambiguous).
    emb = pq.read_table(f'{SRC}/embeddings.parquet')
    edf = emb.to_pandas()
    dup = list(edf.loc[edf.vec_id == 7, 'embedding'].iloc[0])
    hostile_emb = pd.DataFrame({
        'vec_id': [801, 802, 803],
        'embedding': [[0.0] * 64, dup, [0.5] * 64],
        'label': [0, 3, None],
    })
    out_emb = pd.concat([edf, hostile_emb], ignore_index=True)
    pq.write_table(pa.Table.from_pandas(out_emb, schema=emb.schema,
                                        preserve_index=False),
                   f'{dst}/embeddings.parquet')
    print(f'wrote {len(out_emb)} embeddings')
    tbl = pq.read_table(f'{SRC}/documents.parquet')
    df = tbl.to_pandas()
    maxid = int(df.doc_id.max())
    adv = adversarial_rows()
    rows = pd.DataFrame({
        'doc_id': [maxid + 1 + i for i in range(len(adv))],
        'text': [a[0] for a in adv],
        'lang': [a[1] for a in adv],
        'source': [a[2] for a in adv],
        'n_chars': [len(a[0]) for a in adv],
    })
    out = pd.concat([df, rows], ignore_index=True)
    t2 = pa.Table.from_pandas(out, schema=tbl.schema, preserve_index=False)
    pq.write_table(t2, f'{dst}/documents.parquet')
    print(f'wrote {len(out)} docs to {dst}')


if __name__ == '__main__':
    ap = argparse.ArgumentParser(description='Build the adversarial fixture.')
    ap.add_argument('out', nargs='?', default=DST,
                    help=f'output directory (default {DST})')
    main(ap.parse_args().out)
