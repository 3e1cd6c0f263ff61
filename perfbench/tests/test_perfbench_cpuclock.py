import os
import threading
import time

from perfbench.run import CpuClock


def _spin(cpu_s: float) -> None:
    end = time.thread_time() + cpu_s
    while time.thread_time() < end:
        pass


def test_compiler_threads_are_counted_apart():
    # this process stands in for the JVM: one of its threads takes the name
    # HotSpot gives its C2 compiler threads
    clock = CpuClock(os.getpid(), os.getpid())
    spun, release = threading.Event(), threading.Event()

    def compiler():
        with open(f"/proc/self/task/{threading.get_native_id()}/comm", "w") as fh:
            fh.write("C2 CompilerThre")
        _spin(0.3)
        spun.set()
        release.wait()

    cpu0, jit0 = clock.read()
    t = threading.Thread(target=compiler)
    t.start()
    try:
        spun.wait()
        cpu1, jit1 = clock.read()
        _spin(0.3)
        cpu2, jit2 = clock.read()
    finally:
        release.set()
        t.join()
    assert jit1 - jit0 >= 0.2
    assert cpu1 - cpu0 < 0.1
    assert cpu2 - cpu1 >= 0.2
    assert jit2 == jit1
