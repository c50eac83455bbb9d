"""batch_suite: a pinned slate of registry queries over generated tables."""
import json
import os
import random

import metrics
import tables

DATA_SEED = 20240101   # the timed tables are the same in every run
WARM_SCALE = 0.2
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fingerprints.json")

# At least one query of every registry module; only stores that build in
# about a second are needed, so setup stays a small share of the run.
SLATE = [
    "q01_agg_pricing", "q19_asof_join",                             # Relational
    "q21_flux_stats", "q22_percentiles",                            # Stats
    "q30_dedup_exact",                                              # Dedup
    "q40_ann_bruteforce", "q42_label_centroids",                    # Similarity
    "q50_lang_id",                                                  # TextOps
    "q82_bpe_train",                                                # Bpe
    "q109_sp_unigram_tokenize",                                     # Sp
    "q85_bm25_search",                                              # Search
    "q60_multimodal_decode",                                        # Multimodal
    "q106_media_dhash_serve",                                       # MediaDedup
    "q57_train_val_test_split",                                     # Assemble
    "q70_regex_extract_device", "q71_count_window_pack",            # ParseOps
]
STORES = ["media", "dhash", "sp"]


def run(args, cp, run_dir, run_jvm):
    data = tables.generate(os.path.join(run_dir, "data"), DATA_SEED)
    warm = tables.generate(os.path.join(run_dir, "warm"), args.seed + 1, WARM_SCALE)
    order = list(SLATE)
    random.Random("batch/%d" % args.seed).shuffle(order)
    conf = {"workload": args.workload, "trace": int(args.trace), "cores": args.cores,
            "data_dir": data, "warm_dir": warm, "order": ",".join(order),
            "stores": ",".join(STORES)}
    res = run_jvm(cp, run_dir, conf, 150)
    with open(FINGERPRINTS) as f:
        pinned = json.load(f)
    if args.pin:
        with open(args.pin, "w") as f:
            json.dump({q["query"]: [q["rows"], q["hash"]] for q in res["queries"]},
                      f, indent=1, sort_keys=True)
    return metrics.batch(res, pinned)
