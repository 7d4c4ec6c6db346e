import pytest

from geotables_jl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("geotables-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def knn_arms(monkeypatch):
    """``knn_arms(run)`` yields (arm, run()) for the kNN kernel arm at the
    real directory threshold, then for the rounds arm forced by a zero
    threshold, and checks each run took the arm it is named after. A run
    with ``on=`` keys takes the rounds arm under both thresholds.
    ``knn_arms.rounds`` holds the (explode_right, broadcast) flags of each
    rounds-arm pass of the latest run."""
    from geotables_jl_spark.operators import knn

    real, real_round, rows = knn._kernel_arm, knn._round, knn.KNN_BROADCAST_ROWS

    def per_arm(run, kernel=True):
        for arm, threshold in (("kernel", rows), ("rounds", 0)):
            calls, per_arm.rounds = [], []

            def spy(*a):
                calls.append(a)
                return real(*a)

            def round_spy(*a):
                per_arm.rounds.append(a[-2:])
                return real_round(*a)

            monkeypatch.setattr(knn, "_kernel_arm", spy)
            monkeypatch.setattr(knn, "_round", round_spy)
            monkeypatch.setattr(knn, "KNN_BROADCAST_ROWS", threshold)
            out = run()
            assert bool(calls) == (kernel and arm == "kernel"), arm
            yield arm, out

    return per_arm
