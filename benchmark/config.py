"""Fixed benchmark settings shared by the runner and the measured
session. Changing anything here changes what the benchmark measures."""

from __future__ import annotations

#: registry entries of the query mix, in run order: the document /
#: embedding families that share session relations (LSH pairs and
#: their connected components, doc tokens, the 8-band embedding
#: candidate pairs). Warm walls are bimodal (a query that only reads a
#: shared relation takes ~0.1 s, the others ~1 s); four of the six
#: compute, so the median warm query wall falls inside the upper mode
#: instead of between the two.
MIXES = {
    "corpus_mix": [
        "dedup_lsh_pairs",
        "dedup_keep_best_quality",
        "dedup_setsim_join",
        "dedup_embedding_cosine",
        "quality_repetition_rules",
        "bigram_surprisal_scores",
    ],
}

WORKLOADS = ["imaging_tiff", *MIXES]

#: images per acquisition; the golden seed runs the engine's
#: 1000-image checksum corpus instead
IMAGES = 100
GOLDEN_SEED = 0
GOLDEN_IMAGES = 1000
GOLDEN_FILE = "scip_spark/golden/imaging_pipeline_e2e_sf0.01.json"

#: the imaging config: the engine's bench pipeline with all five
#: feature families, as the checksum corpus runs it
FEATURE_FAMILIES = ["bbox", "intensity", "raw", "shape", "texture"]

#: one probe column per feature family (both mask branches for
#: intensity), rolled up per group as in the engine's golden files
PROBE_COLUMNS = [
    "feat_otsu_intensity_mean_mask_c0",
    "feat_li_intensity_mean_mask_c0",
    "feat_otsu_shape_area_combined",
    "feat_otsu_shape_eccentricity_combined",
    "feat_otsu_bbox_bbox_maxr",
    "feat_otsu_raw_std_c0",
    "feat_otsu_texture_glcm_mean_contrast_d3_c0",
    "feat_li_texture_combined_sobel_mean_c0",
]

#: at least this many warm passes, however long they take
MIN_WARM_PASSES = 1

#: driver heap for the measured session (the engine's default is sized
#: for a much larger box)
DRIVER_MEM = "2g"
