"""Session defaults sized from the machine."""

from pimbloomfilters_spark.session import default_driver_memory


def test_driver_memory_is_half_of_ram_capped_at_32g():
    gib = 1 << 30
    assert default_driver_memory(16 * gib) == "8g"
    assert default_driver_memory(64 * gib) == "32g"
    assert default_driver_memory(128 * gib) == "32g"
    # not a whole number of GiB: stated in MiB, rounded down
    assert default_driver_memory(15 * 10**9) == "7152m"
