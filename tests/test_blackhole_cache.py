"""Blackhole backend (S14)."""

from promhouse_spark.models import Query
from promhouse_spark.storage.blackhole import BlackholeStorage
from tests.fixtures import get_data


def test_blackhole():
    st = BlackholeStorage()
    st.write(get_data())
    assert st.written_series == 3 and st.written_samples == 15
    assert st.read([Query(0, 1, ()), Query(0, 1, ())]) == [[], []]
