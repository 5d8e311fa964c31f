"""The golden-oracle map of the driver contract: goldens coupled to one
scale factor are declared only at that scale."""


def test_oracle_sql_omits_sf_coupled_goldens_at_other_sf(monkeypatch):
    import __spark_entry__ as entry
    from identity_matching_spark.plans.golden_oracles import SF_COUPLED

    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    at_default = entry.oracle_sql()
    assert SF_COUPLED <= set(at_default)

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    at_other = entry.oracle_sql()
    assert not (SF_COUPLED & set(at_other))
    # SF-independent goldens stay regardless of scale
    assert "q22_max_identities_cap" in at_other
