"""The measured window is measured again when the host stole CPU."""

from perfbench import run


def _windows(monkeypatch, steals):
    values = iter(steals)
    monkeypatch.setattr(run, "_steal_pct", lambda before, after: next(values))
    warm = run.Recorder(False)

    def window(recorder):
        recorder.records.append({"call_id": f"w{len(recorder.window_steal_pct)}"})

    return warm, run.measure(window, False, warm)


def test_a_calm_window_is_measured_once(monkeypatch):
    warm, kept = _windows(monkeypatch, [1.0])
    assert kept.window_steal_pct == [1.0]
    assert len(kept.records) == 1 and warm.records == []


def test_a_stolen_window_is_repeated_and_the_calmer_kept(monkeypatch):
    limit = run.STEAL_LIMIT_PCT
    warm, kept = _windows(monkeypatch, [limit + 10, limit + 1])
    assert kept.window_steal_pct == [limit + 10, limit + 1]
    assert kept.steal_pct == limit + 1
    # the other window's calls are still checked, as warm-up calls
    assert len(warm.records) == 1
