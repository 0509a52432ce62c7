#!/usr/bin/env python3
"""Tests of the benchmark's input generators.

    python3 perfbench/test_gen.py

The same seed must give byte-identical inputs and identical expected
checksums; the expected checksums must match the lines actually written.
"""
import hashlib
import os
import re
import shutil
import socket
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

LINE = re.compile(r'^(\S+) - (\S+) \[(\d\d)/(\w{3})/(\d{4}):(\d\d):(\d\d):(\d\d) \+0000\] '
                  r'"([^"]*)" (\d+) (\d+) (\d+\.\d+)$')


def digest_dir(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def recount(d):
    """Expected sink content recomputed from the files with a strict regex."""
    import calendar
    acc = rej = bsum = 0
    by_status, times = {}, []
    for f in os.listdir(d):
        for line in open(os.path.join(d, f)):
            m = LINE.match(line.rstrip("\n"))
            ok = bool(m) and m.group(4) in gen.MONTHS and int(m.group(3)) <= 31 \
                and int(m.group(10)) <= 65535
            if not ok:
                rej += 1
                continue
            acc += 1
            bsum += int(m.group(11))
            by_status[m.group(10)] = by_status.get(m.group(10), 0) + 1
            mon = gen.MONTHS.index(m.group(4)) + 1
            times.append(calendar.timegm((int(m.group(5)), mon, int(m.group(3)),
                                          int(m.group(6)), int(m.group(7)), int(m.group(8)))))
    return acc, rej, bsum, by_status, min(times), max(times)


class NginxFiles(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def make(self, name, seed):
        d = os.path.join(self.tmp, name)
        return d, gen.nginx_files(d, seed, 20000, 8)

    def test_same_seed_same_bytes_and_checksums(self):
        a, ea = self.make("a", 5)
        b, eb = self.make("b", 5)
        self.assertEqual(digest_dir(a), digest_dir(b))
        self.assertEqual(ea, eb)

    def test_other_seed_other_input(self):
        a, _ = self.make("a", 5)
        c, _ = self.make("c", 6)
        self.assertNotEqual(digest_dir(a), digest_dir(c))

    def test_expected_matches_written_lines(self):
        d, e = self.make("a", 11)
        acc, rej, bsum, by_status, tmin, tmax = recount(d)
        self.assertEqual((acc, rej), (e["accepted"], e["rejected"]))
        self.assertEqual(bsum, e["sum_bytes_sent"])
        self.assertEqual(by_status, e["by_status"])
        self.assertEqual((tmin, tmax), (e["min_time_local"], e["max_time_local"]))
        self.assertEqual(sum(e["by_month"].values()), e["accepted"])
        self.assertTrue(0.005 < rej / e["lines"] < 0.02)
        self.assertEqual(len(os.listdir(d)), 8)


class SyslogSender(unittest.TestCase):
    def run_sender(self, seed):
        p = subprocess.Popen([sys.executable, gen.__file__, "syslog", "--seed", str(seed),
                              "--rate", "50000", "--steady-s", "0.2", "--burst", "3000"],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        port = int(p.stdout.readline().split()[1])
        s = socket.create_connection(("127.0.0.1", port))
        p.stdin.write("warm 500\ngo\nburst\n")
        p.stdin.flush()
        self.assertEqual(p.stdout.readline().strip(), "warmed 500")
        self.assertTrue(p.stdout.readline().startswith("steady "))
        done = p.stdout.readline()
        p.stdin.write("close\n")
        p.stdin.flush()
        data = b""
        while True:
            b = s.recv(1 << 16)
            if not b:
                break
            data += b
        s.close()
        p.wait(timeout=30)
        return data, done

    def test_same_seed_same_lines(self):
        import json
        a, da = self.run_sender(3)
        b, _ = self.run_sender(3)
        self.assertEqual(a, b)
        d = json.loads(da.split(" ", 1)[1])
        self.assertEqual(d["sent"], 500 + 10000 + 3000)
        self.assertEqual(a.count(b"\n"), d["sent"])
        # sequence numbers run in send order
        seqs = [int(x) for x in re.findall(rb"/s/(\d+) ", a)]
        self.assertEqual(seqs, sorted(seqs))


if __name__ == "__main__":
    unittest.main()
