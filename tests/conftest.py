import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def artifacts():
    from astrospark.crf import CrfModel
    from astrospark.lexicon import load_artifacts
    from astrospark.train import WEIGHTS_PATH

    vocab, trie = load_artifacts()
    model = CrfModel.load(WEIGHTS_PATH)
    return vocab, trie, model


@pytest.fixture(scope="session")
def spark():
    from astrospark.engine.session import build_session

    spark = build_session(app_name="astrospark-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


def _run_together(fn, args, timeout=120.0):
    """Call ``fn(arg)`` for every arg, each on its own thread, all released
    at once by a barrier. Returns each call's result or raised exception,
    in ``args`` order."""
    barrier = threading.Barrier(len(args))
    out: list = [None] * len(args)

    def work(i, arg):
        barrier.wait(timeout)
        try:
            out[i] = fn(arg)
        except Exception as exc:
            out[i] = exc

    threads = [threading.Thread(target=work, args=(i, a), daemon=True) for i, a in enumerate(args)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout)
    assert not any(t.is_alive() for t in threads), "concurrent callers did not finish"
    return out


@pytest.fixture
def run_together():
    return _run_together


@pytest.fixture(scope="session")
def request_texts():
    """Eight distinct multi-sentence texts in the service's request shape."""
    import numpy as np

    from astrospark.corpus import make_paragraph

    rng = np.random.default_rng(11)
    return [" ".join(make_paragraph(rng)[0] for _ in range(1 + i % 3)) for i in range(8)]
