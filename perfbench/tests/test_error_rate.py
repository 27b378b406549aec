"""Failed and wrong outputs count toward error_rate, outside the timer."""

import pytest

from perfbench import run
from perfbench.workloads import WordcountText, WrongOutput


class _Jvm:
    class System:
        @staticmethod
        def gc():
            pass


class _Context:
    _jvm = _Jvm

    def setCheckpointDir(self, path):  # noqa: N802 - mirrors SparkContext
        pass


class _Catalog:
    def clearCache(self):  # noqa: N802 - mirrors Catalog
        pass


class _Spark:
    sparkContext = _Context()
    catalog = _Catalog()


class _EveryOtherWrong:
    """Outputs 1, 2, 3, ...; even outputs are wrong, every fifth job raises."""

    job_span = "job"

    def __init__(self):
        self.n = 0

    def run(self, spark, it_dir):
        self.n += 1
        if self.n % 5 == 0:
            raise RuntimeError("job failed")
        return self.n

    def check(self, output):
        if output % 2 == 0:
            raise WrongOutput(f"{output} is even")

    def release(self, spark, output):
        pass


def test_wrong_and_raising_jobs_are_counted(tmp_path):
    m = run.measure(run.Runner(_Spark(), _EveryOtherWrong(), tmp_path), seconds=0.5)
    n = m["attempted"]
    bad = sum(1 for i in range(1, n + 1) if i % 2 == 0 or i % 5 == 0)
    assert n >= 5
    assert m["failed"] == bad
    assert len(m["untraced"]) == n - bad
    assert not any(tmp_path.iterdir())  # every iteration's directory removed


def test_min_jobs_even_with_no_time(tmp_path):
    m = run.measure(run.Runner(_Spark(), _EveryOtherWrong(), tmp_path), seconds=0)
    assert m["attempted"] == run.MIN_JOBS == 2
    assert m["failed"] == 1  # the second output is even


def _bucket(out, bucket, lines):
    d = out / f"bucket={bucket}"
    d.mkdir(parents=True)
    (d / "part-00000.csv").write_text("".join(f"{w} {c}\n" for w, c in lines))


def _wordcount(oracle):
    wl = WordcountText.__new__(WordcountText)  # skip reading real inputs
    wl.oracle = oracle
    return wl


def test_wordcount_check_accepts_the_oracle(tmp_path):
    _bucket(tmp_path, 0, [("Zeta", 1), ("alpha", 2)])
    _bucket(tmp_path, 1, [("beta", 3)])
    _wordcount({"alpha": 2, "beta": 3, "Zeta": 1}).check(tmp_path)


def test_wordcount_check_rejects_a_wrong_count(tmp_path):
    _bucket(tmp_path, 0, [("alpha", 2), ("beta", 4)])
    with pytest.raises(WrongOutput):
        _wordcount({"alpha": 2, "beta": 3}).check(tmp_path)


def test_wordcount_check_rejects_unsorted_buckets(tmp_path):
    _bucket(tmp_path, 0, [("beta", 3), ("alpha", 2)])
    with pytest.raises(WrongOutput):
        _wordcount({"alpha": 2, "beta": 3}).check(tmp_path)
