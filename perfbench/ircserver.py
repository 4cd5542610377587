"""Fake Twitch IRC server: single-threaded, run as its own process.

It accepts IRC clients (PASS/NICK/JOIN), pings them and counts their
PONGs, and broadcasts every chat line to every joined connection, as
Twitch does. A second port takes control commands, one per line, each
answered with one JSON line:

  STATS            connection and send counters
  OPEN <n> <rate>  schedule the next n messages on an open-loop Poisson
                   schedule at <rate> lines/s, starting now
  QUIT             write the send log and exit

Sends follow the schedule and never wait for the clients: each
connection has its own output buffer. The send log holds, per message,
the time it was due and the time it was handed to the sockets.

Usage: ircserver.py --seed N --topics classes.json
                    --port-file ports.json --log sendlog.json
"""
import argparse
import json
import os
import selectors
import socket
import time

import gen

PING_EVERY_S = 5.0


class Conn:
    def __init__(self, sock, now):
        self.sock = sock
        self.inbuf = b""
        self.out = bytearray()
        self.nick = None
        self.joined = False
        self.lines = 0          # non-PING lines sent
        self.pre = None         # lines sent before the first broadcast
        self.first_msg = None   # index of the first broadcast received
        self.pings = 0
        self.pongs = 0
        self.last_ping = now
        self.pong_wait_max = 0.0
        self.ping_t = None

    def stats(self):
        return {"nick": self.nick, "lines": self.lines, "pre": self.pre,
                "first_msg": self.first_msg, "pings": self.pings,
                "pongs": self.pongs, "pong_wait_max_ms": self.pong_wait_max * 1e3,
                "pending_bytes": len(self.out)}


class Server:
    def __init__(self, seed, topics):
        self.gen = gen.ChatGenerator(seed, topics)
        self.sel = selectors.DefaultSelector()
        self.conns = {}
        self.ctl = None
        self.ctl_in = b""
        self.accepted = 0
        self.joined_total = 0
        self.sched = []                     # due time per message
        self.emit = []                      # send time per message
        self.done = False

        self.irc_l = self._listen()
        self.ctl_l = self._listen()
        self.sel.register(self.irc_l, selectors.EVENT_READ, "irc_accept")
        self.sel.register(self.ctl_l, selectors.EVENT_READ, "ctl_accept")

    @staticmethod
    def _listen():
        s = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        s.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        s.bind(("127.0.0.1", 0))
        s.listen(16)
        s.setblocking(False)
        return s

    # ---- irc side
    def _send(self, c, line):
        c.out += (line + "\r\n").encode()
        if not line.startswith("PING"):
            c.lines += 1
        self._want_write(c)

    def _want_write(self, c):
        self.sel.modify(c.sock, selectors.EVENT_READ | selectors.EVENT_WRITE, c)

    def _close(self, c):
        self.sel.unregister(c.sock)
        c.sock.close()
        del self.conns[c.sock]

    def _on_irc_line(self, c, line, now):
        cmd, _, arg = line.partition(" ")
        cmd = cmd.upper()
        if cmd == "NICK":
            c.nick = arg.strip()
        elif cmd == "JOIN" and not c.joined:
            c.joined = True
            self.joined_total += 1
            self._ping(c, now)
        elif cmd == "PONG" and c.ping_t is not None:
            c.pongs += 1
            c.pong_wait_max = max(c.pong_wait_max, now - c.ping_t)
            c.ping_t = None

    def _ping(self, c, now):
        c.pings += 1
        c.last_ping = now
        c.ping_t = now
        self._send(c, "PING :tmi.twitch.tv")

    def _read_irc(self, c, now):
        try:
            data = c.sock.recv(65536)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            data = b""
        if not data:
            self._close(c)
            return
        c.inbuf += data
        *lines, c.inbuf = c.inbuf.split(b"\n")
        for raw in lines:
            self._on_irc_line(c, raw.decode(errors="replace").strip("\r"), now)

    def _write(self, c):
        try:
            n = c.sock.send(c.out)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            self._close(c)
            return
        del c.out[:n]
        if not c.out:
            self.sel.modify(c.sock, selectors.EVENT_READ, c)

    # ---- generator side
    def _schedule(self, n, rate, now):
        first = len(self.sched)
        t = now
        for _ in range(n):
            t += self.gen.next_gap(rate)
            self.sched.append(t)
        return {"first": first, "n": n, "t0": now}

    def _emit_due(self, now):
        joined = [c for c in self.conns.values() if c.joined]
        while len(self.emit) < len(self.sched) and self.sched[len(self.emit)] <= now:
            i = len(self.emit)
            nick, body = self.gen.next_message()
            line = gen.irc_line(nick, body)
            for c in joined:
                if c.first_msg is None:
                    c.first_msg, c.pre = i, c.lines
                c.out += (line + "\r\n").encode()
                c.lines += 1
            self.emit.append(now)
        for c in joined:
            if c.out:
                self._want_write(c)

    # ---- control side
    def _on_ctl(self, line, now):
        cmd = line.split()
        if not cmd:
            return None
        if cmd[0] == "STATS":
            active = [c.stats() for c in self.conns.values() if c.joined]
            return {"accepted": self.accepted, "joined_total": self.joined_total,
                    "active": active, "sent": len(self.emit), "scheduled": len(self.sched)}
        if cmd[0] == "OPEN":
            return self._schedule(int(cmd[1]), float(cmd[2]), now)
        if cmd[0] == "QUIT":
            self.done = True
            return {"ok": True}
        return {"error": f"unknown command {cmd[0]}"}

    def _read_ctl(self, now, log_path):
        try:
            data = self.ctl.recv(65536)
        except (BlockingIOError, InterruptedError):
            return
        if not data:
            self.done = True
            return
        self.ctl_in += data
        *lines, self.ctl_in = self.ctl_in.split(b"\n")
        for raw in lines:
            reply = self._on_ctl(raw.decode().strip(), now)
            if reply is not None:
                if self.done:
                    self.write_log(log_path)
                self.ctl.setblocking(True)
                self.ctl.sendall((json.dumps(reply) + "\n").encode())
                self.ctl.setblocking(False)

    def write_log(self, path):
        with open(path, "w") as f:
            json.dump({"sched": self.sched, "emit": self.emit,
                       "accepted": self.accepted, "joined_total": self.joined_total,
                       "conns": [c.stats() for c in self.conns.values()]}, f)

    def serve(self, log_path):
        while not self.done:
            now = time.time()
            timeout = 0.05
            if len(self.emit) < len(self.sched):
                timeout = max(0.0, min(timeout, self.sched[len(self.emit)] - now))
            for key, ev in self.sel.select(timeout):
                now = time.time()
                if key.data == "irc_accept":
                    s, _ = self.irc_l.accept()
                    s.setblocking(False)
                    s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                    self.accepted += 1
                    c = Conn(s, now)
                    self.conns[s] = c
                    self.sel.register(s, selectors.EVENT_READ, c)
                elif key.data == "ctl_accept":
                    self.ctl, _ = self.ctl_l.accept()
                    self.ctl.setblocking(False)
                    self.sel.register(self.ctl, selectors.EVENT_READ, "ctl")
                elif key.data == "ctl":
                    self._read_ctl(now, log_path)
                    if self.done:
                        break
                else:
                    c = key.data
                    if ev & selectors.EVENT_READ and c.sock in self.conns:
                        self._read_irc(c, now)
                    if ev & selectors.EVENT_WRITE and c.sock in self.conns:
                        self._write(c)
            now = time.time()
            self._emit_due(now)
            for c in list(self.conns.values()):
                if c.joined and now - c.last_ping >= PING_EVERY_S:
                    self._ping(c, now)
        for c in list(self.conns.values()):
            self._close(c)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--topics", required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    srv = Server(a.seed, gen.load_topics(a.topics))
    with open(a.port_file + ".tmp", "w") as f:
        json.dump({"irc": srv.irc_l.getsockname()[1], "ctl": srv.ctl_l.getsockname()[1]}, f)
    os.replace(a.port_file + ".tmp", a.port_file)
    srv.serve(a.log)
    if not os.path.exists(a.log):
        srv.write_log(a.log)


if __name__ == "__main__":
    main()
