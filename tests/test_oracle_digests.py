"""Oracle equivalence: every registered oracle text keeps its exact
bytes, and the registry keeps its query names, their order, its
``ROWS_ONLY`` set and its ``FAMILY`` map. The sha256 digests below were
taken from the code before a refactor that folds duplicated oracle
texts into shared constants; a fold that alters a single byte of any
oracle, or renames, reorders, adds or drops a query, fails here.
Never edit these digests: a changed oracle is a new correctness gate
and needs its own parity review."""

from __future__ import annotations

import hashlib

import pytest

from simplemapreduceframework_spark import registry

registry.load_all()


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


# name -> sha256 of registry.ORACLES[name], in registration order
_ORACLE_DIGESTS = {
    "multimodal_decode_gif":
        "c9a1cca95789fbaffa845e37af259205ebfa6bb784163b546aad73f0c3d05853",
    "multimodal_decode_jpeg":
        "67ccc891f6497cdb6e86fb603199537f019033c265c3a3edd84d4caff4f9ec8f",
    "multimodal_decode_color":
        "f4cfe1e6a0a91c207e7e68276a8d1be2531f4658de7741d6cb4c9d1a04035131",
    "multimodal_decode_subsampled":
        "c89c57623a1ae43cc15f0e2c82c43a7b62057d8263c610b40a85c70ad29cef28",
    "multimodal_decode_progressive":
        "67ccc891f6497cdb6e86fb603199537f019033c265c3a3edd84d4caff4f9ec8f",
    "multimodal_decode_lossless":
        "89671afe77bc9ef47421ac89fcfeaf06c08e6c0cb8b2793d37a36348c0427ec7",
    "multimodal_audio_adpcm":
        "319b853127d7d6037a93973acfea16d4c15c6ae66009b3d3481030bff8e6a022",
    "multimodal_audio_flac":
        "09cef3d65e223599c4f03b78be50708c6ac21b3f3b638bf52da0c482e516c875",
    "multimodal_audio_real":
        "cf9dfad0496daf79555280be28de028eef3fd8228f36ae9ea9b970ebfe509274",
    "dedup_clusters":
        "183967b11f2321d98c709faab977b49b12dd47544c471395371040df875686ec",
    "dedup_canonical":
        "d48afe7d2dde14f1a3540dcea1020e09446bac85425bb0355e4c709deb94810c",
    "split_leakage_safe":
        "ad076e880fb7e3b933ce8003c1fe8d1f7ac2171fb83b59dac1c17c00ebd78396",
    "entity_golden_records":
        "1d936d0c254566027f9b5fe6c6523e1bbdaba30ad3b3421c962949ecfa9fc460",
    "ann_search_ivf_gate":
        "2377a939b8be7c495bfe9d03952c68314f7eeb60ee3f75b1e73eb6c542d829e2",
    "graph_pagerank":
        "473a2e33c03add8b03abeef0a1cca60cc001959b97ab06687c482c6047b9430d",
    "streaming_hygiene_live":
        "c0841bf5d0d0c06e0ebeb081cd4f541261fc6b60c664a193b5cdf9d36d8a529f",
    "streaming_ingest_pipeline_live":
        "d214b7a0503449e23d2f6d88592b53246340cf7846e5865a7e3118f2f5e3bfce",
    "streaming_session_live":
        "a6dd1922661ac58771d405b5c68fbd0112213a77c04f7f781eb62c06b61a406c",
    "streaming_sliding_live":
        "71dbc802fc464da1e8ed49bc04849b16114da6cce795e6fce336c432a3a70ade",
    "streaming_stateful_totals_live":
        "6738918b854c2ba4c6aa7b84b8d347eff70b8865b3300adde5a4e9176ee95d99",
    "table_skew_report":
        "a7d42b12669633d2f0f5a7e67b1c9ee2d4ed4a56065d8a57c6f95b651dc423d1",
    "text_bm25_indexed":
        "7409005230392ee9bca5a51a1a2f3b3db44f9e933f004f9282034900f6d8ea5a",
    "text_chunk":
        "d570bf344c6bb6884684ae15dc81760c428d3cf20a46f9d938eadbee401f17ff",
    "text_decontaminate":
        "05faaea48eb577bf47d27263ecd86e61203573888bf5f85f843a1b3176fb4eef",
    "text_pii_scrub":
        "454086be47d89ddfcc289bebea817f7ae970f80a117b3119c57be098c79491ff",
    "text_quality_classifier":
        "5047c47ca41801eab9a2a5e09c380056c79e87281708ccbd358d14c9441d0ae3",
    "text_repetition_filter":
        "c0841bf5d0d0c06e0ebeb081cd4f541261fc6b60c664a193b5cdf9d36d8a529f",
    "q42_product_profit":
        "6d6a4425e100583902614343d5682d2cab8275ffdecc22eb54634531f10fcc4e",
    "streaming_decontaminate_live":
        "05faaea48eb577bf47d27263ecd86e61203573888bf5f85f843a1b3176fb4eef",
    "streaming_enrich_live":
        "df0c6e7533f18ee653d6468ec5698435508b75db4741d44f80149acfe4eca0f8",
    "ann_ivf_indexed_gate":
        "2377a939b8be7c495bfe9d03952c68314f7eeb60ee3f75b1e73eb6c542d829e2",
    "basket_rules":
        "b30f86ddd98bc78d2431193ca34f9591640f8296dc8db8ee23c69583af4139ce",
    "dedup_minhash_pr_gate":
        "60842bd5a4d567ad798ad10ec1dfbeaf8dfba262a61ace3363eaa2e9615d216c",
    "dedup_ngram_jaccard":
        "ec42e3fbedac707efb44d2b6990c9ea99eb025b493c82e953dcbde7e6b192f1d",
    "events_tumbling_1h":
        "f49093e540a9c5d7d8cecc3d74e2551df3aa94562edc0f44ee1e98b1e3356cdc",
    "graph_triangles":
        "989caa457019f7f4f7544ff0f0b28bcba5f735449ba18cbc8ababe6cc9acf9c6",
    "grouped_avg":
        "8a5d4f705734b8281a0eec0965654aeec4ff793f20a60423970bc2f03589ee86",
    "incremental_mv_refresh":
        "acc21001eb8900d025f4cf03868fe9e7add76718ce8bed680598bb0b194fe224",
    "multimodal_decode_real":
        "aaf368aecb06bcb1d18e13e87d34315685877edfb83be259835e9d1e0d65c654",
    "multimodal_meta":
        "3debcc2a304fa79799ec43fa02ca8c6ed1a188f3cff2ae00a7b3b74cea7981fd",
    "q10_rollup":
        "fd9306643e910e9dd507046702f468541bff3a6f741f9316b7ec54e82e433b2f",
    "q11_cube":
        "a4ea43e27b4a50278e18f6c5ec350eebd1881415557e5c30f3504985c7525aff",
    "q12_setops":
        "bc631968a07d64080870e2aa0b4048f5dcad49eef6d0e3712fe056ec6300864e",
    "q13_distinct_agg":
        "70896411c7972d04506ea27475a057340fe406e97cab26af21edacbbef7b4a95",
    "q14_scalar_gauntlet":
        "80672b87200f29fb1019cfe411b6145bd7813b1e705a2acddafe46dccfec25e5",
    "q15_conditional_agg":
        "953c471f33ff58da756af72d1a39e5a362e7b77e2eda77bcabfb0d6318644a14",
    "q16_having":
        "66d126d5631fe915df4f6267238b0265f4487884acbb644f06cd84d146f62308",
    "q17_multisort_limit":
        "a2bdaf4f5199023d060fa0a57fabf93b1547d66cb108673f65359b45ba36b634",
    "q18_outer_join":
        "6df096604b241e888c53ec03861d920620fd9064d54f25357822de5887fcc0a0",
    "q19_cross_join":
        "29f5113093b248b00ccaeb09ac2abcd917f8714811a15f0426968896bf6a7249",
    "bpe_first_merge_gate":
        "480e4576022f64794b203c882be2c654e1b46bc3cf0a72ec2e8bfda0455d2b82",
    "bpe_encode_gate":
        "ca67fa795321d2e1b372c691b1bd1a2f081fdc4f028e9d5478432a5ecbf020da",
    "dedup_exact":
        "e2dad1ec651631b4dc291a9b15a936adfc8f2e10e28afccb0a2d59595a2dc3e1",
    "dedup_minhash_lsh":
        "c260b559872640a52d279fa16c46b2797041b0d223899342670a870a92e8a797",
    "dedup_simhash":
        "0dd45139bb211989f61dde5babf0b8fabf59bbfa32537b347c7eb06b62f2c107",
    "dedup_embedding_cosine":
        "f290df29a28b8e48616188af30040091d02ed1cf1eb52985cd9e8e92a6109a08",
    "text_token_stats":
        "70bb1d8c2269a8847f53d8acfab978db07a164a5092f0c167bba64bbec9055c4",
    "text_quality_score":
        "10d1d787113d4785dccf95598e72b902789e7f07f31ec57d0d3d2bbae34545bc",
    "text_lang_id":
        "f0d98c8f19940f644d3706c8af9a629919d32bf697457f0e6daf9fb5fb78603e",
    "text_vocab":
        "5cf0949feea759ff2f3b50aabd414b22c54050376738b18d8687de7c83c7a765",
    "text_winnow_fingerprints":
        "892cf777479428e264591cadbedbee27e97ebaced61a247fde40ed512a1b0a48",
    "text_fingerprint":
        "e76cfe150d3064be2eb7235ed530015e96438cc81c18f13f3d806373a3ccb806",
    "text_lm_coverage":
        "0867d941d255ac33ac9c3a26c930b0c76623af4451228d35c3c0dfe863c18836",
    "text_token_ids":
        "5fd0d7405658f068fa2344cb44bd6c0fb0c96029d390ea6fa3e51993c0607f4f",
    "dedup_winnow":
        "5f59976870c143798c98cf1b0b8544aede624ddd6d268d10257c1a5fcffae695",
    "dedup_incremental":
        "cc76690c4736714d1580d2fb401f0e48223298f84584a92570dc2d2cec65feaf",
    "simjoin_prefix_filter":
        "d9f4b86f4b0c76451cce9630a7932d5a21813b2762ab9ee577467a4cb2cdde2d",
    "graph_pagerank_dangling":
        "886bac247985718e64771a91f3c31ba9c61dbcfcb706d33a2047297a6365becc",
    "basket_part_pairs":
        "e4478ff813920b3046376370bdcff73efe44969bef73c2447aace76b5d356225",
    "embedding_pca_gate":
        "874b9c431287b303985c3795e33c36ba2776e0c3605e22873089e9c20f9bd7f0",
    "fuzzy_match_parts":
        "383a08b820733129dae024b37ef108699e06c011ed84fcae7a141e303b737f0b",
    "pipeline_hygiene":
        "8a03a163b503ebbbcb8c014669640076ff27e3e30bf03ac703694823926cd230",
    "pipeline_chunked_corpus":
        "89504f0f7dd94aae7f37a3dbee8d4a3dc6ea1e1a6d09f7a5c327b2d284365d8b",
    "corpus_health_report":
        "0d81f3ce31d26962ed701de5f37a58ca333bce9d82afc85cd485dcdbf93c963e",
    "multimodal_decode":
        "617f4d0d9c7c9d52cba79f04521b98e8368c6fb0c65efb0dd4c4fad0ec1b3ade",
    "multimodal_frame_sample":
        "6375eae47373db327a0bd3a20125ac5527d6dbad0aff95f0eda64e3ee274d933",
    "pipeline_clean_corpus":
        "92f2735778b9ec72a2db5770805a05a44aaad74c8f332a2b9bfa482c1b949513",
    "pipeline_prepare_training_data":
        "2d2a521e29ec8b76c6686f6c91308ac3ae2fb2d0d28152fab3f4c2d31eb8afa4",
    "corpus_snapshot_diff":
        "b81bc13416ad4327169306222c34d7aff951425cf9df0276305c79b82e476bd4",
    "wordcount":
        "df881907c29c4ce22d8f74914781196679a761252448aee3cf756675455e2906",
    "wordset":
        "05cc60dce3e8691b8ad3928b2aeb5dc94ab06df88ac5fd2e83b634e9e66b28e7",
    "wordset_regex":
        "87f5dda6f312ee3ca5c4862f6d8a68856ca3694bb33ad5d5ba90ed0f58adbf57",
    "q1_pricing_summary":
        "5b43154687460245df455bc80c8855a5fd5e04fb56f8195e712fb71e482cc1fd",
    "q2_filter_project":
        "cb34f64fb3eb147ded835490735ad8504b3474b87432108be4fd4ddf00934095",
    "q3_top_revenue_orders":
        "78014b3e9dbf3b7629ccd33246ff3833e9336f54dfac71c55a68ae2df4af15f5",
    "q4_order_priority_semijoin":
        "3b5bb20cdd1c82dfce0f7df884bbcb9546407cdf24e483fb8315fd1f7c11cc40",
    "q5_region_revenue":
        "55094233456d5d42cfba5d7ea9d1e1db12e1e6a8ccd83a7e46afcbce788701d6",
    "q6_selective_agg":
        "526901c8dda8e4881e680d629e488ee40d102902d4b43f9e2b57aa0ce36c18f8",
    "q7_anti_join":
        "3a51741f9bc33b562c885c80370ca3c52b25fa36f16f160ecad3745fd2120db2",
    "q8_window_topn_per_group":
        "5b2bc349eb90e82f3a8bf40b07b93edd0fd31db451d565821dda0e693b9621bc",
    "q9_running_total":
        "a9f5a111f55c8c9ac9171a9578bc2aeaa9cc86908bb482504272b11eb346e45f",
    "approx_distinct_gate":
        "084ce1d2a9a5edc6b3397b46da64188a6615615471168cb925040bd8c6c64c39",
    "q20_window_suite":
        "e9e3b2dc784751c55fa943defbe5d730bfcf81b4b07cf7e4a66b0c6ec14e1ace",
    "q21_json_extract":
        "7f102a93d0a89e98a40fc37b11c764c9a994f83084c9137bb0c2c5b40b50529a",
    "q22_null_ordering":
        "97faa943c819efea2055d4643cf8b34ff84aab669c077a0ec5d861a38840650f",
    "q23_pivot":
        "26451578efde77509f324ee9741cee62742e1c9c629e700b3a7d8e03720d49dd",
    "q24_multiset_ops":
        "deac6215e5be800fbce2bf4a13a14406b32433b81979466c56179b08c8d90548",
    "q25_array_agg":
        "51b8ddf003690b8e5161964aaeade62243f667b8afc09ee6b77b1416c791d7fa",
    "q26_sql_api":
        "4eb3b0e6a5b938c67b1fb4133112a55cbf10e2eb1c2195197ef7d5312b93d5e8",
    "q27_promo_revenue":
        "1387fc13c2d7d2eeab45b1b16712aa604133aa49b8264517300610285e336744",
    "q28_hierarchical_rollup":
        "9edd44f15980f7d28773cde877adbf626f1cc9f03ebe925f3fbb4a9acd26edaf",
    "stats_exact_moments":
        "85f6c27b31ab4087a32617db539481487e42ef3ee0ac8905ca22136b475546b3",
    "q29_large_orders":
        "1cb7ae98631496a66834e4f7ea1b63e2916c7413e5e6f6397d846421f0b9673a",
    "exact_percentiles":
        "64c8113e23663ff7c03fa497ca173a34db852a1924a7b0ff9cd80804ee3ef4e7",
    "approx_percentiles_gate":
        "709c35c75a29df9ffce7b7b20cb16b0cea26c8c90efa782f60ddd92c78f3cca1",
    "skewed_agg_salted":
        "f854915d5a7cef2e1ded4424374dace5d28eb53cf4aed4c93e63c62b7071a8cd",
    "cms_heavy_hitters":
        "4c4f2b4adecb93b165667cf04181d9bc9b7a010e44bc726fa5fcb94c7ace17f9",
    "bloom_semi_filter":
        "7a092dfad339bb1eeacac2f54d3e7a613e7b9fd0aa39b260d63b739ee11e1808",
    "stats_numeric":
        "a68a65776e059056036b1fd924c3b507644a30780b7329b95ff428e1873b10ee",
    "asof_join_events":
        "cbe774f96104becaf9ac5944f2a9efc1b18389a7660d772552b35a6a39eb64fd",
    "histogram_equi_depth":
        "45ee8b581679a4ee375486ac60f3eb839390bf5f0e68500ef747c7688c6af2e4",
    "q30_min_cost_supplier":
        "de19a3daeddb6733326fb5e49259ba3e11ff889eeee08bf4bac0e09c413040cd",
    "q31_important_stock":
        "a8ebb144b2194bf5893c2b095e070e41b220fa1c5b8b9d5eb913640e29a8cf29",
    "q32_suppliers_who_kept_waiting":
        "99853a7bc2b2f183de0452866a60d7ff3c1cc6b0889a3cadab423e2effe93d1f",
    "q33_global_sales_opportunity":
        "df7bdf43f412d4b46e8dabf5526bb44a9b90e3275638388cb88f8697e88892ce",
    "q34_event_funnel":
        "b54cad60d4d2cb0e11aa6f16d31fb70e54595a6ac3f597044edd1c1880b128af",
    "q35_grouping_sets":
        "734ea372bafa9ae6d3e2b688d2213a2b0678c91f5685ae96c2d37184f9ac8924",
    "q36_lateral_topn":
        "6253892d1c1a3e12801cf1bc45dfb90d51d410861f745af993664b8866df67d9",
    "q37_range_frame_window":
        "c8b71ec3780b76c2c963b78244e5901633baef80a02182d84278f5e99071cae5",
    "q38_disjunctive_predicate":
        "afc78771831bd85744b8f08033e136e8eadc398b0c3203c3d309b0a2fb2000b6",
    "events_outlier_zscore":
        "35032c4f23e5daf6a36c6a88aae01752ad57f005ddb58dc55d4d0d12eb9ac9a5",
    "events_outlier_mad":
        "cd9c1ff847c1126335eb44aa9e92b3da58dc3cea8fe3f8e4441f5971bfee1099",
    "table_profile":
        "17205424cf7a1fe7c5083679821462a84884458acdec6dd508b195aff5eb1478",
    "q39_nation_volume":
        "7ffe09b9540f48b646747d5f7837730911c07cc8cf254d48ff76e7e60d65c4df",
    "q40_window_distribution":
        "35c0e3e7fa97a7f0ff3ca193a9b1cfc8c8218db91437dd6783319ff13d6edc91",
    "q41_top_supplier":
        "6ef30dd4baa450492a126429cf05922c17a0b541e6bb6508094992d4d96289f6",
    "customer_rfm_segments":
        "19ad963c83a23cffcbea9997c53765c256adfcd4c6b7884ffbca7276a87146af",
    "table_expectations":
        "4ad8b9c6b63eb67e4097a1ff06fc26ab6d42dae1c0e4eb21033103ee293cb327",
    "privacy_k_anonymity":
        "6cc9d9a9a587034b095fe0ae0e132dd798240973a148fb0cdce5a94251a4e6ed",
    "privacy_l_diversity":
        "f1b57658f7e9c9c0aa2db1bdd4cf77fbdf7540edab28980f355ea60253c226f7",
    "privacy_t_closeness":
        "ef3045e39f414a384b512caccc2abe74dee37aa65ad3f6179457ce8cb71d200e",
    "q43_market_share":
        "8b6b3aa4d1957f84716238e7cab10240174e1e9539e28fc14a3f3b578b014d29",
    "q44_order_count_distribution":
        "a933aa0e9b8d9d6b2df80cc02936b36dad87212a55fa1f14e7f8b2b3dc3d08c6",
    "q45_small_quantity_revenue":
        "2fd3b6af7410faa795aa8d9b8e607af98c1a86c37e9ec41db331490fc0c58403",
    "q46_bulk_widget_suppliers":
        "5fa36988f0e74ad3750f3fa4ec1d4254296425985160aeee932cd6e330cd4f6f",
    "q47_reorder_streaks":
        "2b0ac5a220953d8b9e2794aba6c734d616126c04b0f11bc9cf3c2c58f3be6114",
    "text_bm25":
        "7409005230392ee9bca5a51a1a2f3b3db44f9e933f004f9282034900f6d8ea5a",
    "hybrid_search_rrf":
        "302ab07262c6649dfa838fc4af378edf10b61028198aa57b857cd59d7cdd3fef",
    "text_pmi_pairs":
        "da6e761c3db146f2c951f0b4ba38bf3e49863fd57745b74c9344eae2ac64072f",
    "text_bm25_batch":
        "3427d3b61db6af54fcd22dc6da4cdd6fd907b1a02787161662182e708c6621eb",
    "retrieval_eval_bm25":
        "abd45dd341b19bcd964b660395cf9c9f41d749ac5fc57a04f7c266e07c529c8c",
    "doc_similarity_sparse":
        "95879913b51ecb0619762ef2e80d29e9573854e5deb7e659a4e01d392ff329e9",
    "ann_cosine_topk":
        "5f428cd7c9bbdd627e356392a02f18c97d964eacd09d9f0e6a27d6347df07e7a",
    "ann_lsh_bucketed":
        "380a4747ed7c61494e5fb6dfccd645b300e7d8a40808e462a034331e77fa22b1",
    "ann_ivf_recall_gate":
        "2377a939b8be7c495bfe9d03952c68314f7eeb60ee3f75b1e73eb6c542d829e2",
    "embedding_quantize":
        "fe1daca4400e87b43908682a25df78540d0722dfdd1c7f6fac3e0495008d7f2e",
    "ann_quantized_gate":
        "2377a939b8be7c495bfe9d03952c68314f7eeb60ee3f75b1e73eb6c542d829e2",
    "ann_ivf_ndcg_gate":
        "c9fae9079e16a9b209db8c1331aa93a7047572bb1dab019999c2e4eddd291dc9",
    "events_sliding_1h_30m":
        "49b8804198b3cfb6f605c9f7a734c37e3bdc025cb74d48098ded862994411cc2",
    "events_session_10m":
        "a6dd1922661ac58771d405b5c68fbd0112213a77c04f7f781eb62c06b61a406c",
    "events_range_join":
        "417a55527f1e0e9b5729a32ab1ec65548fe4542fcc48ff762bc3c76b3bcc1420",
    "events_dedup":
        "f61b0d73e08217c6aea6491f44bcee40d0dc88333bd933c35ac36bd946fa76dc",
    "streaming_dedup_live":
        "47ea9639a1bbbcc45ec9e1adeb252a92929c8fe2fdb451fc34136a786e0dba7f",
    "events_stream_join_live":
        "417a55527f1e0e9b5729a32ab1ec65548fe4542fcc48ff762bc3c76b3bcc1420",
    "streaming_tumbling_live":
        "e371b0418dd896440469b5d9ab9e01c994049185779fd6546e1329f8ad92cece",
    "text_normalize_unicode":
        "1c64bcd78e57cfc087624c77ce636680c7b3ed144d17c1e7daf297cce696defe",
    "dedup_substring":
        "7c8b9e9f7ade9de574687d479246007b5efc28151c1feb8944b70212e48e8b2f",
    "dedup_substring_hashed":
        "7c8b9e9f7ade9de574687d479246007b5efc28151c1feb8944b70212e48e8b2f",
    "tokenizer_fertility":
        "b521efef239cebe0d4dbed87fa0c13a46bca0dd1adf1943438e57a042d28a0fb",
    "streaming_normalize_live":
        "1c64bcd78e57cfc087624c77ce636680c7b3ed144d17c1e7daf297cce696defe",
    "events_range_join_bucketed":
        "417a55527f1e0e9b5729a32ab1ec65548fe4542fcc48ff762bc3c76b3bcc1420",
    "events_session_stats":
        "69ed2ab5b1b93ca89ff684d31720187156d8a7663aeeb00ee6544fc475782680",
    "streaming_mv_refresh_live":
        "acc21001eb8900d025f4cf03868fe9e7add76718ce8bed680598bb0b194fe224",
    "events_resample_ffill":
        "1e52b2e183c5a260d2bc3e2d0d76b7f842703debb06fe5b92d7045c5763ca1eb",
    "events_state_intervals":
        "cb5b879ec74f1a8698512d7ef9cf510ba37fc99669800bc4a7ffa2f468b54fef",
    "events_cohort_retention":
        "9d360efac2954c754a16e6019a9e50b96febff209cdc3fa682939d5dc8ec845f",
    "events_trend_slope":
        "7bd1f2d34213bc498a4ebf4f3fbd96ea57c162c1fb3ccaafa47f4fc471cbed22",
    "events_transition_matrix":
        "85724910e909464fcc150a3902baacc99781698c4079265860b6652e1b2800f3",
    "part_monthly_demand_features":
        "4ee4d14feb7509597653e9f68b5c24bcb049feaaf905dfd56f11ac5de1f7d666",
    "events_hourly_seasonality":
        "ec0f5889a2cd3c0af93a36b546b2933148adbd075b39e200463409278f06dbb4",
    "events_funnel":
        "3c001c1108b439c74f7f4a0e9ab297b1a1bc860a4a71b16938c195b4a39ee220",
    "events_attribution":
        "61ab3290059278a17ccdec3a568c5b8ea98fe6c179f125596516db8740290070",
    "events_capped_contributions":
        "341f2f9d726cf0ced73fc442e31ecbf94ff39d0c847dcf467c5398c450bd809e",
    "experiment_readout":
        "63b9e94166cbcb0cee40267fc0cbf6a1b455ff4320f6ec0e273dd542ec78c337",
    "streaming_capped_contrib_live":
        "341f2f9d726cf0ced73fc442e31ecbf94ff39d0c847dcf467c5398c450bd809e",
    "split_train_test":
        "00442b65be2dae99a8c44e44c33cced305321330e66e197fd9600ad53ee6cabd",
    "corpus_shuffle_shard":
        "36986986735b270414a13063c2bece087bf68937a8f73456667825f473ec5a91",
    "pack_sequences":
        "26589cfa94f6294974bf42b62dbc3dc3e60bf789fc8c8e3e2cebe15ce5f620d1",
    "sample_bottomk":
        "a75b6cf630c7778d8f1e2f9a9a82e1206235496d1d6b2d4ef697c3abfa11503e",
    "sample_stratified_bottomk":
        "d793ddd897005e6dc2c5a4ff2abbc8747ad7f6e7f5e99d1f90742a9ffb83bdf0",
    "sample_weighted_bottomk":
        "cbfec6b72a2b7262166eaa3b9417a774a500f5e187d64eb13206fa3bbf341d8f",
    "corpus_mix_weighted":
        "bfd5c6aaa6f3c439013a7452238ca0ccb1c326c0a2b78b4a2e5249351b3d9194",
    "curriculum_schedule":
        "d1efd7d25a6854e15fdcd89e2ff1907e530cd710729730362a280250dabcbd4a",
    "train_negative_sampling":
        "d83fb3e857f70c6f5dbca1f482f470d7c305935d8a939512b78b97d745845478",
    "udf_scalar_disc_price":
        "77e03e1a5bf6f65c5f62478e998f045e9d40aa6d23d0368a55e86867f40da1c4",
    "udaf_grouped_sum":
        "35449280adc8e074bf1b70080006a6dfec2af992bbaabee4f6dc475406a73dae",
    "udtf_tokenize":
        "014fbe4a8024febb58ab084a3b6d60dc8f8d30b8b3450f496c1b8cf0f42ac61f",
    "mr_wordcount_compat":
        "df881907c29c4ce22d8f74914781196679a761252448aee3cf756675455e2906",
    "mr_grouped_avg_compat":
        "b9d6da8808464343ddc4cfe5ef8695b194bcb786a88fc550fdf670157cee7747",
    "mr_pickle_compat":
        "df881907c29c4ce22d8f74914781196679a761252448aee3cf756675455e2906",
}

_NAMES_DIGEST = "b303e9d69c551760ca29605d3a44319b1dd3694fec1f6e19527a4380e425236c"
_ROWS_ONLY_DIGEST = "fba790634f56dc98012be459fc6d9c4d81ff970e553ff33cf20b5cc8bf50a3c0"
_FAMILY_DIGEST = "5ce212e3ac24a399dfde6f10432ccf9da28f857ce07996b1998be78e7bb38f55"


@pytest.mark.parametrize("name", sorted(_ORACLE_DIGESTS))
def test_oracle_text_unchanged(name):
    assert _sha(registry.ORACLES[name]) == _ORACLE_DIGESTS[name]


def test_oracled_names_unchanged():
    assert list(registry.all_oracles()) == list(_ORACLE_DIGESTS)


def test_registry_names_order_rows_only_and_families_unchanged():
    assert _sha("\n".join(registry.all_queries())) == _NAMES_DIGEST
    assert _sha("\n".join(sorted(registry.ROWS_ONLY))) == _ROWS_ONLY_DIGEST
    assert _sha("\n".join(
        f"{k}={v}" for k, v in sorted(registry.FAMILY.items()))) == _FAMILY_DIGEST
