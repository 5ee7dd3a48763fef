#!/usr/bin/env python3
"""Mid-scale EXACT closure check for the bounded dedup resolves.

The driver-gate oracle replays the closure as a recursive reach CTE,
which materializes |component|^2 rows — exactly the blowup the bounded
contract avoids, and infeasible once the tiled corpus grows a giant
component (sf0.2's closure ran >19 CPU-min in DuckDB before this script
existed; sf1's would be ~2x10^9 rows). This replaces ONLY the closure
step: DuckDB still derives the doc-level near-dup pair list from the
dumped oracle SQL (independent signature/banding replay), and a Python
union-find — a different algorithm from the Spark side's hierarchical
contraction — produces the exact min-label per component in O(E a(N)).

Usage:
  sbt "runMain graft.DataGen <sf0.1 dir> testdata/sf0.<copies> <copies>"
  sbt "runMain graft.Verify testdata/sf0.<copies> <outdir> dd_simhash_resolve,dd_minhash_resolve,dd_minhash_hi_resolve"
  python3 scripts/check_resolve_midscale.py testdata/sf0.<copies> <outdir>
"""
import sys, json, os, re
import duckdb
import pandas as pd


def cte_head(resolve_sql: str) -> str:
    """The resolve oracle up to (not including) its closure CTEs: the
    corpus/signature/pair replay, reusable for both the pair list and
    the planted-corpus doc ids."""
    i = resolve_sql.find("edges AS")
    assert i > 0, "resolve oracle has no edges CTE"
    head = resolve_sql[:i].rstrip().rstrip(",")
    return head.replace("WITH RECURSIVE", "WITH", 1)


def pairs_sql(resolve_sql: str) -> str:
    # the pair CTE is named jp in both resolve oracles
    return cte_head(resolve_sql) + "\nSELECT doc_a, doc_b FROM jp"


def corpus_sql(resolve_sql: str) -> str:
    # the oracle's corpus CTE plants truncated + exact copies on top of
    # the documents table — doc ids must come from the same definition
    return cte_head(resolve_sql) + \
        "\nSELECT doc_id FROM corpus ORDER BY doc_id"


class UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        p = self.p
        r = x
        while p.get(r, r) != r:
            r = p[r]
        while p.get(x, x) != x:
            p[x], x = r, p[x]
        return r

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-id representative, matching the resolve contract
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.p[hi] = lo


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    p = f"{sfdir}/documents.parquet"
    src = f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"'{p}'"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM {src}")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    n_fail = 0
    for name in sorted(oracle):
        doc_ids = [r[0] for r in
                   con.execute(corpus_sql(oracle[name])).fetchall()]
        edges = con.execute(pairs_sql(oracle[name])).fetchall()
        uf = UF()
        for a, b in edges:
            uf.union(a, b)
        expect = pd.DataFrame({
            "doc_id": doc_ids,
            "cluster_rep": [uf.find(d) for d in doc_ids]})
        expect["is_kept"] = expect.doc_id == expect.cluster_rep
        got = pd.read_parquet(os.path.join(outdir, name)) \
            .sort_values("doc_id").reset_index(drop=True)
        ok = (len(got) == len(expect)
              and (got.doc_id.to_numpy() == expect.doc_id.to_numpy()).all()
              and (got.cluster_rep.to_numpy()
                   == expect.cluster_rep.to_numpy()).all()
              and (got.is_kept.to_numpy() == expect.is_kept.to_numpy()).all())
        ncomp = int((~expect.is_kept).sum())
        print(f"{'PASS' if ok else 'FAIL'} {name}: {len(edges)} pair edges, "
              f"{len(doc_ids)} docs, {ncomp} dropped as duplicates")
        if not ok:
            merged = got.merge(expect, on="doc_id",
                               suffixes=("_spark", "_oracle"))
            bad = merged[merged.cluster_rep_spark != merged.cluster_rep_oracle]
            print(bad.head(10).to_string())
            n_fail += 1
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
