#!/usr/bin/env python3
"""Targeted sf1 correctness: compare the sf1 tier's queries against
DuckDB on a `tools/gen_scale.py` fixture (the full check_oracle run is
reserved for sf0.01 — the quadratic oracles take 30+ CPU-min at sf1).

txt_signals' committed oracle joins the sf0.01 compress GOLDEN for the
deflate columns (DuckDB has no zlib), so at sf1 we compare every column
EXCEPT n_deflate/ratio_ppm, with n_bytes recomputed in SQL.

Usage: check_sf1.py <sfDir> <verifyOutDir> [query ...]

With explicit query names, only those are checked (a subset Verify run);
without, the full target list is required and a missing output is
a FAILURE (a query that crashed before writing parquet must not pass as
"skipped").
"""
import sys, json, glob, os
import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import compare_frames  # the one copy of the contract

sf_dir, out_dir = sys.argv[1], sys.argv[2]
subset = set(sys.argv[3:])  # empty = full run, every target required
def wanted(name):
    return not subset or name in subset
con = duckdb.connect()
# register EVERY fixture table: an oracle referencing an unregistered
# table would abort the whole gate with a CatalogException mid-list
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracles = json.load(open(f"{out_dir}/oracle_sql.json"))

def compare(name, sql, drop_cols=()):
    pq = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not pq:
        print(f"FAIL {name}: no spark output"); return False
    mine = con.sql(f"SELECT * FROM '{pq[0]}'").df().drop(columns=list(drop_cols))
    orc = con.sql(sql).df()
    err = compare_frames(mine, orc)
    if err:
        print(f"FAIL {name}: {err}"); return False
    print(f"OK   {name}: {len(mine)} rows")
    return True

fails = []

# sim_assign / ds_budget_select: the committed oracles are pure SQL —
# use them as-is
for name in ["sim_assign", "ds_budget_select", "txt_blocklist", "txt_bm25",
             "ds_snapshot_diff", "ds_drift"]:
    if wanted(name) and not compare(name, oracles[name]):
        fails.append(name)

# txt_signals: committed oracle minus the golden-joined deflate columns
if wanted("txt_signals"):
    sig = oracles["txt_signals"]
    marker = "cr AS (SELECT doc_id, n_bytes, n_deflate, ratio_ppm"
    assert marker in sig, "txt_signals oracle shape changed — update this script"
    start = sig.index(marker)
    end = sig.index(")", sig.index("read_parquet", start)) + 1
    sig = sig[:start] + ("cr AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes"
                         " FROM documents") + sig[end:]
    sig = sig.replace(" cr.n_bytes, cr.n_deflate, cr.ratio_ppm,", " cr.n_bytes,")
    # bpe_true joins the sf0.01 txt_bpe GOLDEN (the trained tokenizer is
    # engine-specific — not recomputable in SQL): drop the column and its
    # golden join at sf1; bit-equality with txt_bpe is TxtSignalsSpec's lock
    bt_start = sig.index("bt AS (SELECT doc_id, bpe_tokens AS bpe_true")
    bt_end = sig.index("ec AS (")  # the CTE that follows bt
    sig = sig[:bt_start] + sig[bt_end:]
    sig = sig.replace(",\n bt.bpe_true", "").replace("\nJOIN bt USING (doc_id)", "")
    if not compare("txt_signals", sig,
                   drop_cols=("n_deflate", "ratio_ppm", "bpe_true")):
        fails.append("txt_signals")

# rows-only sanity for the golden-pinned queries (values locked at
# sf0.01). In a FULL run a missing output is a FAILURE — a query that
# crashed before writing parquet must not pass as skipped; only an
# explicit subset request may skip.
for name, min_rows in [("sim_ann_ivf", 10), ("q23_percentiles_approx", 5),
                       ("sim_kmeans", 512),
                       # BT scores are golden-pinned at sf0.01; output is
                       # ONE row per source (20 at every scale; the internal
                       # win matrix is |sources|^2 and never corpus-sized)
                       ("ds_elo_bt", 20)]:
    if not wanted(name):
        continue
    pq = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not pq:
        print(f"FAIL {name}: no spark output"); fails.append(name); continue
    n = con.sql(f"SELECT count(*) FROM '{pq[0]}'").fetchone()[0]
    status = "ROWS" if n >= min_rows else "FAIL"
    if status == "FAIL":
        fails.append(name)
    print(f"{status} {name}: {n} rows")

# late-round-7 additions with pure SQL oracles: the committed oracle runs
# as-is at sf1 (ds_hard_negatives is the one quadratic here — 2k anchors
# x 20k vectors at sf1, inside the documented targeted-compare budget)
for name in ["ev_funnel", "ev_retention", "txt_normalize",
             "ds_hard_negatives", "sim_whiten", "ev_trending",
             "ev_transitions", "q25_correlated", "ds_span_corrupt", "ds_fim",
             # second-session round-7 additions (batches 13-14)
             "q26_waiting_orders", "q27_idle_balances", "ds_sample_weighted",
             "ds_preference_pairs", "ds_agreement", "txt_collocations",
             "txt_fertility", "ev_cooccurrence", "ev_rollup_merge",
             "q28_skew_report", "txt_langid_confusion", "dd_threshold_curve",
             "ev_autocorr", "ds_range_bounds", "q29_nation_volume",
             "ds_pack_stats", "ev_ab_test", "ev_rfm_segments",
             "ds_dedup_impact", "ev_forecast_baseline",
             "txt_source_keywords", "txt_readability",
             "ev_new_vs_returning", "q30_disjunctive",
             # round-8 additions
             "q31_min_cost_supp", "q32_qualified_suppliers",
             "q33_important_parts", "q34_top_supplier",
             "ds_canary", "ds_canary_audit",
             "q35_large_orders", "q36_supplier_diversity",
             "ev_rollup_distinct",
             # round-8 continuation (batches 29-32): the full TPC-H
             # shape set + gap-fill/SCD2/grouping-sets
             "q37_cust_dist", "q38_market_share", "q39_product_profit",
             "q40_local_volume", "q41_grouping_sets", "q42_ship_priority",
             "q43_late_orders", "q44_revenue_change", "q45_returned_items",
             "q46_priority_mix", "q47_promo_share", "ev_gap_fill",
             "ev_scd2",
             # round 9: exact-integer window/join/audit ops (pure SQL
             # oracles), plus the tournament matrix feeding the
             # golden-locked BT solver (rows-sane at sf1; its matrix is
             # |sources|^2 at every scale)
             "ev_changepoint", "ev_attribution_multi", "ds_tournament",
             "ds_expectations", "ev_lag_features", "ev_seasonality",
             "mm_audio_meta", "ev_concentration", "txt_vocab_growth", "ds_quality_deciles",
             # value-exact at sf1 BY THE EXACT-MODE BOUNDS: theta max
             # distinct users/day = 1356 < 4096 nominal entries; KLL max
             # rows per (type,day) = 7390 < k=16384 (see the query docs)
             "ev_rollup_distinct_theta", "ev_percentiles_kll",
             "ev_retention_theta",
             # sf1 replicates the SAME texts, so per-source shingle sets
             # and the exact-mode bound are unchanged from sf0.1
             "dd_cross_source_overlap",
             # same-label quadratic is 1/|labels| of the negatives' pair
             # count — inside the documented targeted-compare budget
             "ds_positive_pairs"]:
    if not wanted(name):
        continue
    if name not in oracles:  # a silently-missing oracle must not pass
        print(f"FAIL {name}: no oracle in oracle_sql.json")
        fails.append(name)
    elif not compare(name, oracles[name]):
        fails.append(name)

# classifier trio: values are golden-pinned at sf0.01 (engine-trained
# model); at sf1 assert shape sanity — the spec suite owns semantics
for name, min_rows in [("ds_quality_model", 4), ("ds_label_noise", 1),
                       ("ds_model_calibration", 5),
                       ("ds_hard_negatives_ivf", 1000),
                       ("ds_curate_model", 10),
                       # golden-pinned at sf0.01; sf1 = rows+invariants
                       ("sim_knn_graph", 1000),
                       ("ev_rollup_distinct_hll", 25)]:
    if not wanted(name):
        continue
    pq = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not pq:
        print(f"FAIL {name}: no spark output"); fails.append(name); continue
    n = con.sql(f"SELECT count(*) FROM '{pq[0]}'").fetchone()[0]
    status = "ROWS" if n >= min_rows else "FAIL"
    if status == "FAIL":
        fails.append(name)
    print(f"{status} {name}: {n} rows")

print("FAILED:", sorted(set(fails)) if fails else "none")
sys.exit(1 if fails else 0)
