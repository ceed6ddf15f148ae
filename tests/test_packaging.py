"""ensure_distributed when the package zip cannot be built: a local
master runs its python workers on this host and skips shipping; any
other master must fail loudly instead of running without the package."""

from types import SimpleNamespace

import pytest

import eynollah_spark.packaging as packaging


def _fail_build(cache_dir=None):
    raise OSError("read-only source tree")


def test_local_master_skips_shipping_when_zip_build_fails(monkeypatch):
    monkeypatch.setattr(packaging, "build_zip", _fail_build)
    monkeypatch.setattr(packaging, "_shipped", set())
    sc = SimpleNamespace(master="local[4]")
    packaging.ensure_distributed(SimpleNamespace(sparkContext=sc))
    assert id(sc) in packaging._shipped


def test_cluster_master_reraises_zip_build_failure(monkeypatch):
    monkeypatch.setattr(packaging, "build_zip", _fail_build)
    monkeypatch.setattr(packaging, "_shipped", set())
    sc = SimpleNamespace(master="spark://head:7077")
    with pytest.raises(OSError, match="read-only"):
        packaging.ensure_distributed(SimpleNamespace(sparkContext=sc))
    assert id(sc) not in packaging._shipped
