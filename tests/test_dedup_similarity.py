"""MinHash/LSH band-key regression test (operators/minhash.py)."""


class TestReviewRegressionsR2:
    def test_band_keys_more_bands_than_hashes(self, spark):
        """bands > num_hashes: seedless tail bands are skipped (the old
        narrow path produced no rows for them; a zero-arg hash threw)."""
        from threat_intelligence_knowledge_graph_spark.operators.minhash import (
            lsh_band_keys,
            word_shingles,
        )

        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"]
        )
        sh = word_shingles(df, "doc_id", "text")
        banded = lsh_band_keys(sh, num_hashes=8, bands=16)
        assert banded.select("band").distinct().count() == 8
        from threat_intelligence_knowledge_graph_spark.operators.minhash import (
            lsh_candidate_pairs,
        )

        pairs, _ = lsh_candidate_pairs(banded)
        assert {(r.a, r.b) for r in pairs.collect()} == {(1, 2)}
