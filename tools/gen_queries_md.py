#!/usr/bin/env python3
"""Regenerate QUERIES.md — the browsable index of SparkEntry.queries
(name, first comment sentence, check type), read from the `Query(...)`
declarations in src/main/scala/graft/queries/. Dev tool; run after adding
queries."""
import glob
import re


def summarize(block):
    txt = ' '.join(c.strip().lstrip('/').strip() for c in block
                   if c.strip().startswith('//'))
    txt = re.sub(r'\s+', ' ', txt).strip()
    # the first sentence ends at '. ', but not at the one in "et al. "
    first = re.split(r'(?<!\bet al)\. ', txt.split(' — ')[0])[0]
    return first[:110] if txt else ''


CHECK = {'Oracle': 'oracle', 'NoOracle': 'rows-only (reasoned)'}
rows = []
for path in sorted(glob.glob('src/main/scala/graft/queries/*Queries.scala')):
    # cur = [name, description from the comment above, check kind]
    comment, cur, inner, inner_done = [], None, [], False

    def close():
        if cur is not None:
            rows.append((cur[0], cur[1] or summarize(inner), CHECK[cur[2]]))

    for ln in open(path).read().split('\n'):
        m = re.match(r'    Query\("([a-z0-9_]+)", ', ln)
        if m:
            # A top-level comment block IMMEDIATELY above the declaration
            # describes that query; a comment inside the previous query
            # must not leak into the next row. When no block sits above,
            # fall back to the first comment block inside the query's own
            # plan (the check's comments never count).
            close()
            cur = [m.group(1), summarize(comment), None]
            inner, inner_done, comment = [], False, []
            continue
        if re.match(r'    // =====.*=====\s*$', ln):
            continue    # a section marker titles the family, not a query
        if re.match(r'    //', ln):
            comment.append(ln)
            continue
        comment = []
        if cur is None or cur[2] is not None:
            continue
        check = re.match(r'      (Oracle|NoOracle)\b', ln)
        if check:
            cur[2] = check.group(1)
        elif ln.strip().startswith('//') and not inner_done:
            inner.append(ln)
        elif inner and ln.strip():
            inner_done = True    # block ended; keep only the first
    close()
out = ['# QUERIES — generated index of the driver-contract battery', '',
       f'{len(rows)} queries in `SparkEntry.queries`. "oracle" = DuckDB SQL twin,',
       'hash-compared by the driver; "rows-only" = documented in',
       '`SparkEntry.noOracleReason` with ScalaTest evidence. Regenerate with',
       '`python3 tools/gen_queries_md.py` after adding queries.', '',
       '| Query | What it computes | Check |', '|---|---|---|']
for name, desc, check in sorted(rows):
    out.append(f'| `{name}` | {desc.replace("|", chr(92)+"|")} | {check} |')
open('QUERIES.md', 'w').write('\n'.join(out) + '\n')
print('QUERIES.md:', len(rows), 'queries')
