"""Reading /proc stat files for the CPU metrics."""

from perfbench import run


def test_stat_fields_start_after_the_command_name(tmp_path):
    stat = tmp_path / "stat"
    # a command name may hold spaces and ')'; fields follow the last ')'
    stat.write_text("4242 (Executor task) x) S 17 4242 1 0 -1 0 0 0 0 0 310 45 7 2 20 0\n")
    f = run._stat(str(stat))
    assert f[0] == "S" and f[1] == "17"
    assert [int(x) for x in f[11:15]] == [310, 45, 7, 2]  # utime stime cutime cstime


def test_stat_of_an_ended_process_is_none(tmp_path):
    assert run._stat(str(tmp_path / "gone" / "stat")) is None
