"""Driver-contract pin: the 50 query keys and the exact oracle SQL.

The contract is the first 50 ``QUERIES`` keys, each result
hash-compared against its DuckDB oracle, so neither the key set nor any
oracle string may drift.  Several oracles embed the SQL of operators that left
the contract (text_profile, multimodal_pipeline, webtext_clean); the
digests below catch an accidental edit to any embedded piece.
"""

import hashlib

from toshi_spark.queries import ORACLES, QUERIES

CONTRACT_KEYS = [
    "ann_cosine",
    "ann_ivf",
    "ann_lsh_buckets",
    "assemble_training_mix",
    "blocklist_filter",
    "chunk_documents",
    "contamination",
    "dedup_clusters",
    "dedup_exact",
    "dedup_survivors",
    "dsir_weights",
    "embedding_neardup",
    "ft_all_sorted",
    "ft_blockmax_topk",
    "ft_bool",
    "ft_delete_visibility",
    "ft_doclens",
    "ft_facets",
    "ft_fuzzy",
    "ft_phrase",
    "ft_range",
    "ft_raw_bool",
    "ft_raw_fuzzy",
    "ft_raw_wildcard",
    "ft_regex",
    "ft_segmented_term_bm25",
    "ft_term_basic",
    "ft_term_bm25",
    "ft_term_bm25_quantized",
    "ft_term_union_bm25",
    "ft_termstats",
    "ft_unicode_term",
    "fuzzy_contamination",
    "gopher_filter",
    "host_cap",
    "host_stats",
    "lm_score",
    "lsh_pairs",
    "mix_weights",
    "multimodal_frames",
    "multimodal_pipeline",
    "ngram_jaccard",
    "pack_sequences",
    "paragraph_dedup",
    "quality_calibrate",
    "sample_stratified",
    "sessionize",
    "substring_dedup",
    "text_profile",
    "webtext_clean",
]

ORACLE_SHA256 = {
    "ann_cosine":
        "d12e770e60d3171e8c31e4382726d0099454ae5b49435c6b4fc5116ec80ce8f7",
    "ann_ivf":
        "6a8a8838635c20dfc2eda2f24a33dd5ec45734f2607658a8bdb9a1e0a136cffb",
    "ann_lsh_buckets":
        "ee6e1624e5d921686617f9f312cfbf2ee06dc2dea1dabd3a0004281f11fcc61f",
    "assemble_training_mix":
        "7942371251f79c83aeaabe42a843b272212daa48c34332fc2ea0c348404749bb",
    "blocklist_filter":
        "caeafb60a17d5b55fb107d397357504209f0e8040632be2155177f6be3fed9c7",
    "chunk_documents":
        "80111b776ecd059d9c8ef5dc0477eec5838bfed88fa62acfa34fd795d4c387f3",
    "contamination":
        "9e2fd8cfe3ed49884a21d43b3e84a77555ece7243547c1bdb343d44dbaea220b",
    "dedup_clusters":
        "47e9905d1eaf3bd6fde580fbe25a0e52183c7fa80551799ebf29b417f1ea5a80",
    "dedup_exact":
        "14f8a6f2faa88b567852ca65e2f7108ff0c9b287eb0c99d5e70c8a75b56ae6d0",
    "dedup_survivors":
        "3de9f64fe345e52c62831ea7758706ae1e0ab752f931cd074bdfd6f8a32b0c10",
    "dsir_weights":
        "ecea6167d87ccf7df2012e3bdb91bc20f6c271f3c3da2675d9987f289acd6817",
    "embedding_neardup":
        "fbfffa5a224b874fed9de3db2215010fdf77c05b894fde2e0b232198992fac29",
    "ft_all_sorted":
        "f06091ea6388079a18469f41eb9036d7d19f2275f1e4075911a9dcc1a1d037f4",
    "ft_blockmax_topk":
        "f0c0a3aef11099891c1015f3ea989a922aa3f45caa8c0c09af8a8d621c158d5e",
    "ft_bool":
        "0f18e6503267ffdba3f122f17362bf3ac4d182d042bb24a9771fca5418c77748",
    "ft_delete_visibility":
        "1c2efc8e900d992ba0793e78d7680703ddfb45c9f574d2759967eca13be354fb",
    "ft_doclens":
        "542e813a239d8a924074db8c7d64cef9f38b449280511567d629f637e1c086a3",
    "ft_facets":
        "d3cc4d558b08b013dd1b21d679cd263bb459ddaa1a88f70ba44c8ab3c82ea59d",
    "ft_fuzzy":
        "8da57c4a56e587d39268fa5bcb97ddd3044312f68afa2df5ae060be15e05378a",
    "ft_phrase":
        "5f00d4737f9f3fb3c097a88f84141cc900b77f1a8c30d1d8587e20e911c37be1",
    "ft_range":
        "2266ffa7d51c32f765f06f0388669625253ece903a3731766c787008e7223b1a",
    "ft_raw_bool":
        "a27ec0f6a03f55db77e2c9879b0ccea802c5e2380233f84064d660451d899134",
    "ft_raw_fuzzy":
        "3f12a6f7bf11be860c600f4e645da3a0c0e0e350f7421af107e5cd5b44681978",
    "ft_raw_wildcard":
        "5bddcac17ab1eca329b80f508addfc07d4bfd02c114c1de8f5e5742ab00637ba",
    "ft_regex":
        "c1adfa5d20690f506edd4a5b0ec70723b6a83d66ce8151e4f46928d349b61d6b",
    "ft_segmented_term_bm25":
        "270d02182cc349b1e31191da7ff1f8b3c003755cb81495166a6eef2fa98087f7",
    "ft_term_basic":
        "f4fcd958d8c518dcc027e0e215f44b3e8f971ae71a485f01b87f5fa58e1f5904",
    "ft_term_bm25":
        "270d02182cc349b1e31191da7ff1f8b3c003755cb81495166a6eef2fa98087f7",
    "ft_term_bm25_quantized":
        "5533784f7b45b7ade92db5638de9953749a0c53352158cf49b9160569dc97c9d",
    "ft_term_union_bm25":
        "f0c0a3aef11099891c1015f3ea989a922aa3f45caa8c0c09af8a8d621c158d5e",
    "ft_termstats":
        "0282f438c6fe291f0ed437c7ba16f18e5ca2279c5b945c5b69d724f0cd38ddd5",
    "ft_unicode_term":
        "78ac98c4f4b4f57c37ab64e4d9737be6c7f5dc0a0b6f33d2403ac9bc234b01b4",
    "fuzzy_contamination":
        "ff895fc2b7cccb1ceb59050ec20dcccbc49a2f8014f03b20f8b0bc7a8e098915",
    "gopher_filter":
        "9aa5e0b5d09c97af7172e8b0d91a3c3cffa92ae596f9c01f03b72fcf2bf100fe",
    "host_cap":
        "f8b7bda40253a2dc8bfefaf2a4c67fc2ad41ee2f7811e2788b20b87ed222bfae",
    "host_stats":
        "3b5ca816b19bd2cfe56b8f04b5687df1ac9e4d2abe54d459b2cbd62913f647b4",
    "lm_score":
        "0858c296a445ce7f4c2eac6e8c72ec09c9a32da583eecee285b9502b4ae7d547",
    "lsh_pairs":
        "bab8be0d36fb10b91ca10b53f3b54ac1cc5724d2836a70c6bee28ef2433aef08",
    "mix_weights":
        "13440f788ec0d806af45b6c5ecf63ac296d3b7be67051200a0523138e1767685",
    "multimodal_frames":
        "51791d4ff49aacc71a55455b02a95c70fcc2c9269837af514f5a4ad655e3dc59",
    "multimodal_pipeline":
        "6a0a095d653b3024d07f2163b04ecdb8c853da727e5894f2a5b22e9144661c94",
    "ngram_jaccard":
        "8cddf918da5bd3bc4632b51f9e22a9287436d8141b5e1dfd6a3f7e1ec5bcb266",
    "pack_sequences":
        "142978f2d3172d913a668671195b7528ea3167069d7760d92e4dff4d9cd21d6a",
    "paragraph_dedup":
        "e52ba436986c1140fc3d57a383aeb3d48f151b60c1030f7899d769e8677bb798",
    "quality_calibrate":
        "ef6103c0838a3f916f33774b81634b3f474756059ea7cdf202b89a2a48ca9fa1",
    "sample_stratified":
        "7b63f85ca85728697472c6bb5c52e5740f0fdaca404989e80b8defcb16bb98f9",
    "sessionize":
        "14d9d12368cb90824429ee6da862be7e31c1493f176324cd93dfc1fc180d97f2",
    "substring_dedup":
        "015c3df8398b9244e2af1621dc97a0268c77e574903b19379ce4c3afd30fc224",
    "text_profile":
        "7a1bab2cc8f03ee42a7e52e81dbc5ef1760a90cefb4682ee6481216fd646c47f",
    "webtext_clean":
        "6b14ba5864d8013c8da5fbed6dd7ebd660199cf71661ebe20016b0e7c9f0e4ec",
}


def test_contract_keys_pinned():
    assert sorted(QUERIES) == CONTRACT_KEYS
    assert len(CONTRACT_KEYS) == 50
    assert set(ORACLES) <= set(QUERIES)


def test_oracle_sql_unchanged():
    got = {k: hashlib.sha256(v.encode()).hexdigest()
           for k, v in ORACLES.items()}
    assert got == ORACLE_SHA256
