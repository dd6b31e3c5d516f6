"""Resource samplers read from /proc and the filesystem (psutil is not
installed): peak summed RSS of a process tree, split by role, and the
high-water mark of a directory's disk use."""

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.1   # between RSS samples
RESCAN = 5         # samples between reads of the process table


def proc_table():
    """{pid: (ppid, comm, session id)} for every readable process that
    has not exited (zombies are left out)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm is parenthesised and may contain spaces
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z":
            out[int(name)] = (int(fields[1]), comm, int(fields[3]))
    return out


def descendants(root, table):
    """Pids of ``root`` and all its descendants in ``table``."""
    kids = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


class Sampler:
    """Background thread sampling a process tree and, optionally, a
    directory.

    ``peak_mb`` is the peak of the summed RSS of the whole tree;
    ``jvm_peak_mb`` and ``worker_peak_mb`` are the peaks of the JVM and
    of the Python workers (every python process below the JVM);
    ``disk_peak_mb`` is the peak size of ``disk_dir``. RSS is read every
    INTERVAL_S seconds; the process table, to find new members of the
    tree, every RESCAN samples, so the sampler costs little CPU."""

    def __init__(self, root_pid, disk_dir=None):
        self.root, self.disk_dir = root_pid, disk_dir
        self.peak_mb = self.jvm_peak_mb = self.worker_peak_mb = 0.0
        self.disk_peak_mb = 0.0
        self._roles = {}          # pid -> "driver" | "jvm" | "worker" | "other"
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _classify(self):
        table = proc_table()
        pids = descendants(self.root, table)
        jvms = {p for p in pids if table[p][1] == "java"}
        roles = {}
        for p in pids:
            if p == self.root:
                roles[p] = "driver"
            elif p in jvms:
                roles[p] = "jvm"
            elif self._below(p, jvms, table):
                roles[p] = "worker"
            else:
                roles[p] = "other"
        self._roles = roles

    def sample(self):
        total = {"driver": 0, "jvm": 0, "worker": 0, "other": 0}
        for pid, role in list(self._roles.items()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total[role] += int(f.read().split()[1]) * _PAGE
            except (OSError, IndexError, ValueError):
                del self._roles[pid]
        mb = 1 << 20
        self.peak_mb = max(self.peak_mb, sum(total.values()) / mb)
        self.jvm_peak_mb = max(self.jvm_peak_mb, total["jvm"] / mb)
        self.worker_peak_mb = max(self.worker_peak_mb, total["worker"] / mb)
        if self.disk_dir is not None:
            self.disk_peak_mb = max(self.disk_peak_mb,
                                    dir_bytes(self.disk_dir) / mb)

    @staticmethod
    def _below(pid, ancestors, table):
        while pid in table:
            pid = table[pid][0]
            if pid in ancestors:
                return True
        return False

    def _loop(self):
        n = 0
        while not self._stop.is_set():
            if n % RESCAN == 0:
                self._classify()
            self.sample()
            n += 1
            self._stop.wait(INTERVAL_S)
