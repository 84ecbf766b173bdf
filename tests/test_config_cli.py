"""Config loader + threshold-wiring tests (reference test_config_loader.py analog)."""

import pytest

from webextract.config import (
    ExtractorConfig,
    OrchestratorConfig,
    PipelineConfig,
    load_pipeline_config,
)
from webextract.extract import extract_document


def test_defaults():
    cfg = PipelineConfig()
    assert cfg.extractor.link_density_max == 0.5
    assert cfg.orchestrator.n_buckets == 64
    assert cfg.exporter.table_format == "parquet"


def test_yaml_roundtrip(tmp_path):
    (tmp_path / "extractor.yaml").write_text("link_density_max: 0.7\n")
    (tmp_path / "orchestrator.yaml").write_text("n_buckets: 16\nwaves: 4\n")
    cfg = load_pipeline_config(str(tmp_path))
    assert cfg.extractor.link_density_max == 0.7
    assert cfg.orchestrator.n_buckets == 16
    assert cfg.orchestrator.waves == 4
    assert cfg.evaluation.len_tolerance == 0.02  # absent file → defaults


def test_empty_file_gives_defaults(tmp_path):
    (tmp_path / "extractor.yaml").write_text("")
    cfg = load_pipeline_config(str(tmp_path))
    assert cfg.extractor == ExtractorConfig()


def test_missing_file_raises_when_required(tmp_path):
    with pytest.raises(FileNotFoundError):
        load_pipeline_config(str(tmp_path), require_all=True)


def test_unknown_key_raises(tmp_path):
    (tmp_path / "orchestrator.yaml").write_text("max_workers: 4\n")  # reference knob, not ours
    with pytest.raises(Exception):
        load_pipeline_config(str(tmp_path))


def test_validation_bounds():
    with pytest.raises(Exception):
        ExtractorConfig(link_density_max=1.5)
    with pytest.raises(Exception):
        OrchestratorConfig(n_buckets=0)


def test_thresholds_change_extraction():
    """A link-bearing paragraph under the default threshold survives, but is
    dropped when the run configures a stricter link-density cap."""
    html = (b"<html><body><p>Plain long paragraph with one "
            b'<a href="/x">link word</a> inside and lots of other text.</p>'
            b"</body></html>")
    assert extract_document(html).text != ""
    assert extract_document(html, link_density_max=0.05).text == ""


def test_cli_curate_end_to_end(spark, tmp_path, capsys):
    import json

    from webextract.cli import main
    from webextract.corpus import write_corpus_parquet
    from webextract.sparkjob import extract_df, split_errors

    gen = str(tmp_path / "gen")
    write_corpus_parquet(gen, 120, seed=21)
    pages = spark.read.parquet(f"{gen}/web_pages.parquet")
    ok, _ = split_errors(extract_df(pages, repartition=False))
    src = str(tmp_path / "extracted")
    ok.write.parquet(src)
    out = str(tmp_path / "curated")
    rc = main(["curate", "--input", src, "--output", out,
               "--lang-rates", '{"en": 500}'])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stages = rep["stages"]
    assert list(stages) == ["input", "after_latest_crawl", "after_gates",
                            "after_exact_dedup", "after_near_dedup", "final"]
    vals = list(stages.values())
    assert all(a >= b for a, b in zip(vals, vals[1:])) and vals[-1] > 0
    assert spark.read.parquet(out).count() == stages["final"]


def test_cli_prep_end_to_end(spark, tmp_path, capsys):
    import json

    from webextract.cli import main

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(30)), f"s{i % 3}")
         for i in range(24)],
        "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(99, " ".join(f"w3_{j}" for j in range(30)), "b")],
        "doc_id long, text string, source string")
    src, bpath, out = (str(tmp_path / d) for d in ("docs", "bench", "packed"))
    docs.write.parquet(src)
    bench.write.parquet(bpath)
    rc = main(["prep", "--input", src, "--bench", bpath, "--output", out,
               "--capacity", "32", "--shards", "4"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stages = rep["stages"]
    assert list(stages) == ["input", "after_decontamination",
                            "after_rebalance", "packed"]
    assert stages["packed"] == stages["after_rebalance"]
    # doc 3 shares every 5-gram with the bench doc (same w3_* stream)
    assert stages["after_decontamination"] == stages["input"] - 1
    packed = spark.read.parquet(out)
    assert packed.count() == stages["after_rebalance"] > 0
    assert set(packed.columns) == {"doc_id", "source", "tokens", "shard",
                                   "offset", "first_chunk", "last_chunk",
                                   "n_chunks"}


@pytest.mark.parametrize("cmd,recipe", [("curate", "curate"),
                                        ("prep", "pretrain_prep")])
def test_cli_failed_write_leaves_nothing_cached(spark, tmp_path, monkeypatch,
                                                cmd, recipe):
    """The recipes return a persisted frame; a write that fails must still
    unpersist it."""
    from pyspark import StorageLevel

    from webextract import pipeline
    from webextract.cli import main

    returned = []

    def persisted_recipe(*a, **kw):
        out = spark.range(5).persist()
        out.count()
        returned.append(out)
        return out, {"input": 5}

    monkeypatch.setattr(pipeline, recipe, persisted_recipe)
    src = str(tmp_path / "in")
    spark.range(1).write.parquet(src)
    blocker = tmp_path / "a_file"
    blocker.write_text("not a directory")
    argv = [cmd, "--input", src, "--output", str(blocker / "out")]
    if cmd == "prep":
        argv += ["--bench", src]
    with pytest.raises(Exception):
        main(argv)
    assert len(returned) == 1
    assert returned[0].storageLevel == StorageLevel.NONE
