"""INI configuration — the reference's config surface, key for key.

Reference: /root/reference/evtstrd/config.py:31-54 reads a [General]
section with SocketFile, SocketMode (octal), SocketOwner, SocketGroup,
SSLCertificateFile, SSLKeyFile, HTTPPort; missing file => defaults
(config.py:57-61).  Same keys and fallbacks here, plus the engine's own
knobs (spool/checkpoint work dir, trigger) under [Spark].  Any other
key is ignored, as configparser reads it.
"""

from __future__ import annotations

import configparser
from dataclasses import dataclass

DEFAULT_CONFIG = "/etc/eventstreamd.conf"

SOCKET_NAME = "/var/run/eventstreamd.sock"
SOCKET_MODE = 0o0600
HTTP_PORT = 8888
PING_INTERVAL = 20  # reference config.py:11


@dataclass
class Config:
    socket_file: str = SOCKET_NAME
    socket_owner: str | None = None
    socket_group: str | None = None
    socket_mode: int = SOCKET_MODE
    cert_file: str | None = None
    key_file: str | None = None
    http_port: int = HTTP_PORT
    ping_interval: float = PING_INTERVAL
    work_dir: str = "/tmp/eventstreamd_spark"
    trigger_seconds: int = 1
    auth_plugin_file: str = ""
    # CLI-set debug mode (reference config.py:24, cmdargs.py:16,23 —
    # the reference never reads it from the INI either)
    debug: bool = False

    @property
    def with_ssl(self) -> bool:
        return bool(self.cert_file) and bool(self.key_file)


def read_config(filename: str) -> Config:
    config = Config()
    parser = configparser.ConfigParser()
    with open(filename) as f:
        parser.read_file(f)
    config.socket_file = parser.get("General", "SocketFile", fallback=SOCKET_NAME)
    mode = parser.get("General", "SocketMode", fallback=None)
    if mode is not None:
        config.socket_mode = int(mode, base=8)
    config.socket_owner = parser.get("General", "SocketOwner", fallback="")
    config.socket_group = parser.get("General", "SocketGroup", fallback="")
    config.cert_file = parser.get("General", "SSLCertificateFile", fallback="")
    config.key_file = parser.get("General", "SSLKeyFile", fallback="")
    config.http_port = parser.getint("General", "HTTPPort", fallback=HTTP_PORT)
    config.work_dir = parser.get(
        "Spark", "WorkDir", fallback=config.work_dir
    )
    config.trigger_seconds = parser.getint(
        "Spark", "TriggerSeconds", fallback=config.trigger_seconds
    )
    # plugin-as-file: same check_auth contract as the reference's
    # plugins/auth.py, location made explicit (streaming/plugins.py)
    config.auth_plugin_file = parser.get(
        "General", "AuthPlugin", fallback=""
    )
    return config


def read_default_config() -> Config:
    try:
        return read_config(DEFAULT_CONFIG)
    except FileNotFoundError:
        return Config()
