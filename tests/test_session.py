"""Session defaults that need no JVM: the driver-memory sizing."""

from pyrdf2vec_spark.session import default_driver_memory

GIB = 1024 ** 3


class TestDefaultDriverMemory:
    def test_quarter_of_physical_memory(self):
        assert default_driver_memory(16 * GIB) == "4096m"
        assert default_driver_memory(15 * GIB) == "3840m"

    def test_capped_at_48g(self):
        assert default_driver_memory(192 * GIB) == "49152m"
        assert default_driver_memory(1024 * GIB) == "49152m"

    def test_reads_this_machine(self):
        got = default_driver_memory()
        assert got.endswith("m")
        assert 0 < int(got[:-1]) <= 48 * 1024
