"""Host state recorded beside every run (annotation only: nothing is
skipped, re-run or discarded because of it).

The method is the one ``graft.Bench`` uses in its host probe:

* steal % = steal / (busy + steal) jiffies from the aggregate
  ``/proc/stat`` line, where busy = user + nice + system + irq +
  softirq (iowait counts as idle; guest columns are already inside user
  and nice, so only the first 8 columns are read). Here it is taken over
  the whole run.
* fresh-page touch rate = MB/s to write one byte into each 4 KiB page of
  a freshly allocated 128 MiB buffer. On a memory-oversubscribed host
  first-touch faults slow down by orders of magnitude, so a low rate
  flags a run whose timings the host disturbed.
"""
import mmap
import time


def cpu_jiffies():
    try:
        with open("/proc/stat") as f:
            cols = f.readline().split()[1:]
    except OSError:
        return 0, 0
    v = [int(c) for c in cols[:8]]
    idle = v[3] if len(v) > 3 else 0
    iowait = v[4] if len(v) > 4 else 0
    steal = v[7] if len(v) > 7 else 0
    return sum(v) - idle - iowait - steal, steal


def touch_rate_mb_s(mb=128):
    buf = mmap.mmap(-1, mb << 20)      # anonymous: no page touched yet
    pages = (mb << 20) // 4096
    t0 = time.perf_counter()
    buf[::4096] = b"\x01" * pages
    dt = time.perf_counter() - t0
    buf.close()
    return mb / dt if dt > 0 else float("inf")


class HostProbe:
    def __init__(self):
        self.touch_start = touch_rate_mb_s()
        self.busy0, self.steal0 = cpu_jiffies()

    def finish(self):
        busy1, steal1 = cpu_jiffies()
        db, ds = busy1 - self.busy0, steal1 - self.steal0
        return {"steal_pct": 0.0 if db + ds <= 0 else 100.0 * ds / (db + ds),
                "touch_mb_s_start": self.touch_start,
                "touch_mb_s_end": touch_rate_mb_s()}
