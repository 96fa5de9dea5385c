"""renoir_spark.util helpers that need no Spark session."""

import pytest

from renoir_spark.util import run_concurrent


def _raise(exc):
    def thunk():
        raise exc
    return thunk


def test_run_concurrent_one_failure_reraises_it_unchanged():
    ran = []
    err = KeyError("missing")
    with pytest.raises(KeyError) as info:
        run_concurrent(lambda: ran.append(1), _raise(err),
                       lambda: ran.append(2))
    assert info.value is err
    assert sorted(ran) == [1, 2]  # every thunk settled first


def test_run_concurrent_two_failures_keep_every_cause():
    a, b = IOError("disk full"), ValueError("bad schema")
    with pytest.raises(ExceptionGroup) as info:
        run_concurrent(_raise(a), lambda: None, _raise(b))
    assert list(info.value.exceptions) == [a, b]
