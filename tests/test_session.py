"""Session defaults that depend on the host."""

from __future__ import annotations

from wikidata_sparql_history_spark.session import default_driver_memory

GiB = 2**30


def test_driver_memory_is_half_of_ram():
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(8 * GiB) == "4096m"


def test_driver_memory_caps_at_48g():
    assert default_driver_memory(96 * GiB) == "49152m"
    assert default_driver_memory(512 * GiB) == "49152m"
