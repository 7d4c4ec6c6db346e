import pytest

from geotables_jl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("geotables-tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def knn_arms(monkeypatch):
    """``knn_arms(run)`` yields (arm, run()) for the kNN kernel arm at the
    real directory threshold, then for the tile arm forced by a zero
    threshold, and checks each run took the arm it is named after. A run
    with ``on=`` keys takes the tile arm under both thresholds.
    ``knn_arms.rounds`` holds, per tile-arm round of the latest run, the
    number of distinct tiles its query rows keyed to, or None for a round
    whose groups each hold their key's whole directory."""
    from geotables_jl_spark.operators import knn

    real, real_round, rows = knn._kernel_arm, knn._tile_pass, knn.KNN_BROADCAST_ROWS

    def per_arm(run, kernel=True):
        for arm, threshold in (("kernel", rows), ("tiles", 0)):
            calls, per_arm.rounds = [], []

            def spy(*a):
                calls.append(a)
                return real(*a)

            def round_spy(remaining, right, spec, k, n_keys, tiling):
                tiled = knn.tiled(remaining, "l", spec, tiling and tiling[0])
                per_arm.rounds.append(tiling and tiled.select("__tile").distinct().count())
                return real_round(remaining, right, spec, k, n_keys, tiling)

            monkeypatch.setattr(knn, "_kernel_arm", spy)
            monkeypatch.setattr(knn, "_tile_pass", round_spy)
            monkeypatch.setattr(knn, "KNN_BROADCAST_ROWS", threshold)
            out = run()
            assert bool(calls) == (kernel and arm == "kernel"), arm
            yield arm, out

    return per_arm
