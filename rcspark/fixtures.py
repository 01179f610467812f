"""Deterministic synthetic web / corpus / robots fixtures — FIXTURES.md §1-4.

The sandbox has no network, so "fetching" is an equi-join against the `web`
table (SURVEY.md A10) and image bytes come from the `corpus_src` table whose
shape is exactly BASELINE.json's input_hint:
(image_id string, bytes binary, w int32, h int32, fmt string, caption string,
 phash int64).

Everything is generated from one numpy Generator seeded with `seed`, in a
single deterministic pass — the Spark engine and the pure-Python oracle
consume the SAME pandas frames, which is what makes crawl-order /
seen-set / pixel / caption equality meaningful.

Host sizes follow a Zipf(s≈1.2) distribution so one or two hosts dominate —
the skew target the north rule's salted partitioning exists for.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from .codecs import decode_image, encode_ppm, encode_qppm, phash64
from .urlnorm import canon_py
from .xxh import xxh64

ADJ = ["rapid", "carbon", "micro", "quad", "alpha", "turbo", "nano", "lite"]
PART = ["motor", "esc", "frame", "prop", "fc", "vtx", "camera", "antenna"]
MAKER = ["acme", "volt", "aero", "pulse", "orbit", "zenith", "nimbus", "koax"]

TRACK_NOISE = ["utm_source=g", "utm_medium=cpc", "ref=home", "fbclid=xyz", "gclid=abc"]


@dataclass
class Fixture:
    web: pd.DataFrame        # url url_canon host path status redirect_to links image_url caption body body_size
    corpus: pd.DataFrame     # url image_id bytes w h fmt caption phash
    robots: pd.DataFrame     # host allow_rules deny_rules crawl_delay
    seeds: pd.DataFrame      # url priority
    allowed_hosts: list[str]


def _noisy(canon: str, rng: np.random.Generator) -> str:
    """A raw variant of a canonical URL exercising every A2 rule."""
    scheme, rest = canon.split("://", 1)
    host, slash, pathq = rest.partition("/")
    pathq = slash + pathq
    path, qmark, query = pathq.partition("?")
    if rng.random() < 0.5:  # mixed-case host
        host = "".join(c.upper() if rng.random() < 0.5 else c for c in host)
    if rng.random() < 0.3:  # explicit default port
        host += ":80"
    params = [p for p in query.split("&") if p] if query else []
    if rng.random() < 0.4:  # tracking noise
        params.append(TRACK_NOISE[rng.integers(0, len(TRACK_NOISE))])
    rng.shuffle(params)
    q = ("?" + "&".join(params)) if params else ""
    frag = "#sec%d" % rng.integers(0, 9) if rng.random() < 0.3 else ""
    return f"{scheme}://{host}{path}{q}{frag}"


def _zipf_sizes(n_hosts: int, total: int, s: float = 1.2) -> np.ndarray:
    w = 1.0 / np.arange(1, n_hosts + 1) ** s
    sizes = np.maximum(1, np.floor(total * w / w.sum())).astype(np.int64)
    sizes[0] += total - sizes.sum()
    return sizes


def make_image(image_id: str) -> tuple[bytes, int, int, str, int]:
    """Deterministic image for an id → (bytes, w, h, fmt, phash)."""
    h64 = xxh64(image_id.encode())
    dims = (16, 32, 64)
    w = dims[h64 % 3]
    h = dims[(h64 >> 8) % 3]
    fmt = "ppm" if (h64 >> 16) % 10 < 7 else "qppm"
    pix = np.random.default_rng(h64 & 0xFFFFFFFF).integers(
        0, 256, (h, w, 3), dtype=np.uint8
    )
    data = encode_ppm(pix) if fmt == "ppm" else encode_qppm(pix)
    stored, _ = decode_image(data)
    return data, w, h, fmt, phash64(stored)


def make_smooth_image(image_id: str) -> np.ndarray:
    """Deterministic SMOOTH RGB content for an id → uint8 (h, w, 3):
    per-channel gradients + one low-frequency sinusoid, id-seeded.

    The lossy-codec fidelity gate (north rule: PSNR ≥ 40 dB) is specified
    over photographic-class content; make_image's uniform noise has zero
    energy compaction and is the wrong fixture for a transform codec.
    Shared data GENERATOR (like make_image / make_shot_frames): the engine
    and the expected-values twin both consume it, the codec/stat math is
    what each side implements independently."""
    h64 = xxh64(image_id.encode())
    dims = (16, 32, 64)
    w = dims[h64 % 3]
    h = dims[(h64 >> 8) % 3]
    rng = np.random.default_rng(h64 & 0xFFFFFFFF)
    yy, xx = np.mgrid[0:h, 0:w]
    chans = []
    for _ in range(3):
        base = rng.uniform(50, 205)
        gx, gy = rng.uniform(-1.2, 1.2, 2)
        fx, fy = rng.uniform(0.02, 0.09, 2)
        ph = rng.uniform(0, 2 * np.pi, 2)
        amp = rng.uniform(8, 35)
        chans.append(
            base + gx * xx + gy * yy
            + amp * np.sin(2 * np.pi * fx * xx + ph[0])
            + amp * np.cos(2 * np.pi * fy * yy + ph[1])
        )
    return np.clip(np.round(np.stack(chans, axis=-1)), 0, 255).astype(np.uint8)


def make_shot_frames(video_id: str, max_shots: int = 5) -> np.ndarray:
    """Deterministic SHOT-STRUCTURED frame stack for an id → uint8
    (n, 16, 16, 3).

    Frames inside a shot are the shot's base frame plus small jitter
    (|delta| <= 8, ~12 permille mean abs diff); a shot boundary jumps to a
    fresh uniform base (~333 permille) — so a scene-cut detector with any
    threshold between those bands must recover exactly the planted shot
    boundaries. Shared data GENERATOR (like make_image): the engine and
    the expected-values twin both consume it; the diff/threshold math is
    what each side implements independently."""
    h64 = xxh64(video_id.encode())
    n_shots = 2 + h64 % (max_shots - 1)
    w = h = 16
    frames = []
    for s in range(n_shots):
        rng = np.random.default_rng((h64 ^ (0x9E3779B9 * (s + 1))) & 0xFFFFFFFF)
        base = rng.integers(0, 256, (h, w, 3), dtype=np.int16)
        shot_len = 2 + int(rng.integers(0, 4))
        for _ in range(shot_len):
            jitter = rng.integers(-8, 9, (h, w, 3), dtype=np.int16)
            frames.append(np.clip(base + jitter, 0, 255).astype(np.uint8))
    return np.stack(frames)


def make_fixture(
    n_hosts: int = 6,
    urls_per_host: int = 40,
    link_fanout: float = 3.0,
    image_fraction: float = 0.4,
    seed: int = 42,
    n_seeds: int = 3,
    n_offsite_hosts: int = 2,
) -> Fixture:
    rng = np.random.default_rng(seed)
    hosts = [f"site{i}.example" for i in range(n_hosts)]
    off_hosts = [f"off{i}.example" for i in range(n_offsite_hosts)]
    sizes = _zipf_sizes(n_hosts, n_hosts * urls_per_host)

    # --- canonical page universe -----------------------------------------
    pages: list[tuple[str, str, str]] = []  # (canon, host, path)
    for hi, host in enumerate(hosts):
        for j in range(sizes[hi]):
            r = rng.random()
            if r < 0.15:
                path = f"/private/p/{j}"
            elif r < 0.45:
                path = f"/parts/{j}?id={j}&s={int(rng.integers(0, 5))}"
            else:
                path = f"/p/{j}"
            canon = f"http://{host}{path}"
            pages.append((canon, host, canon.split(host, 1)[1].split("?")[0]))
    canon_urls = [p[0] for p in pages]
    canon_set = set(canon_urls)
    n = len(pages)

    # --- statuses ---------------------------------------------------------
    statuses = rng.choice([200, 500, 301, 404], size=n, p=[0.92, 0.03, 0.03, 0.02])

    # --- images -----------------------------------------------------------
    img_counter = 0
    image_urls: list[str | None] = []
    captions: list[str | None] = []
    corpus_rows = []
    for i, (canon, host, _) in enumerate(pages):
        if statuses[i] == 200 and rng.random() < image_fraction:
            image_id = f"img{img_counter:08d}"
            img_counter += 1
            iurl = f"http://{host}/img/{image_id}.ppm"
            cap = (
                f"{ADJ[img_counter % len(ADJ)]} {PART[img_counter % len(PART)]} "
                f"by {MAKER[img_counter % len(MAKER)]} #{img_counter}"
            )
            data, w, h, fmt, ph = make_image(image_id)
            corpus_rows.append(
                {
                    "url": iurl,
                    "image_id": image_id,
                    "bytes": data,
                    "w": np.int32(w),
                    "h": np.int32(h),
                    "fmt": fmt,
                    "caption": cap,
                    "phash": np.int64(ph),
                }
            )
            image_urls.append(iurl)
            captions.append(cap)
        else:
            image_urls.append(None)
            captions.append(None)

    # --- links (raw noisy variants) ---------------------------------------
    host_pages: dict[str, list[str]] = {}
    for canon, host, _ in pages:
        host_pages.setdefault(host, []).append(canon)
    all_links: list[list[str]] = []
    redirect_to: list[str | None] = []
    for i, (canon, host, _) in enumerate(pages):
        k = rng.poisson(link_fanout)
        links = []
        for _ in range(k):
            r = rng.random()
            if r < 0.70:  # same host
                tgt = host_pages[host][rng.integers(0, len(host_pages[host]))]
            elif r < 0.95:  # other allowed host
                oh = hosts[rng.integers(0, n_hosts)]
                tgt = host_pages[oh][rng.integers(0, len(host_pages[oh]))]
            else:  # offsite
                tgt = f"http://{off_hosts[rng.integers(0, n_offsite_hosts)]}/x/{int(rng.integers(0, 99))}"
            links.append(_noisy(tgt, rng))
            if rng.random() < 0.10:  # duplicate link
                links.append(_noisy(tgt, rng))
        if rng.random() < 0.03:  # dangling link → fetch miss path
            links.append(f"http://{host}/missing/{int(rng.integers(0, 999))}")
        all_links.append(links)
        if statuses[i] == 301:
            tgt = host_pages[host][rng.integers(0, len(host_pages[host]))]
            redirect_to.append(_noisy(tgt, rng))
        else:
            redirect_to.append(None)

    # --- body bytes (what the parse UDF actually parses) -------------------
    bodies = []
    for i in range(n):
        parts = [f"<title>{captions[i] or ''}</title>"]
        if image_urls[i]:
            parts.append(f'<img src="{image_urls[i]}">')
        parts.extend(f'<a href="{l}">l</a>' for l in all_links[i])
        bodies.append("\n".join(parts).encode("utf-8"))

    raw_urls = [_noisy(c, rng) for c in canon_urls]
    web = pd.DataFrame(
        {
            "url": raw_urls,
            "url_canon": canon_urls,
            "host": [p[1] for p in pages],
            "path": [p[2] for p in pages],
            "status": statuses.astype(np.int32),
            "redirect_to": redirect_to,
            "links": all_links,
            "image_url": image_urls,
            "caption": captions,
            "body": bodies,
            "body_size": np.array([len(b) for b in bodies], dtype=np.int32),
        }
    )
    # sanity: every canonical url credited by the generator matches canon_py
    assert all(canon_py(u) == c for u, c in zip(raw_urls, canon_urls))
    assert canon_set == set(web["url_canon"])

    corpus = pd.DataFrame(
        corpus_rows,
        columns=["url", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
    )

    # --- robots ------------------------------------------------------------
    rb = []
    delays = [None, 0.5, 1.0, 2.0]
    for hi, host in enumerate(hosts):
        if hi == n_hosts - 1 and n_hosts > 2:  # one deny-all host
            deny, allow = ["/"], []
        else:
            deny, allow = ["/private"], (["/private/ok"] if hi % 2 == 0 else [])
        rb.append(
            {
                "host": host,
                "allow_rules": allow,
                "deny_rules": deny,
                "crawl_delay": delays[hi % len(delays)],
            }
        )
    robots = pd.DataFrame(rb)

    # --- seeds (always fetchable roots) ------------------------------------
    seed_rows = []
    for hi in range(min(n_seeds, n_hosts)):
        canon = host_pages[hosts[hi]][0]
        idx = canon_urls.index(canon)
        statuses[idx] = 200  # force seeds fetchable
        web.loc[idx, "status"] = 200
        # a 200 carries no redirect: drop the target drawn if it was a 301
        web.at[idx, "redirect_to"] = None
        seed_rows.append({"url": _noisy(canon, rng), "priority": 0})
    seeds = pd.DataFrame(seed_rows)

    return Fixture(web=web, corpus=corpus, robots=robots, seeds=seeds, allowed_hosts=hosts)


def make_speech_samples(audio_id: str, rate: int = 8000, frame: int = 160) -> np.ndarray:
    """Deterministic silence/voice alternating clip for an id → int16 samples.

    2-4 voiced tone bursts (~0.45 amplitude sine at an id-derived frequency
    + light noise) separated by near-silence (0.004-amplitude noise), every
    segment a whole number of `frame`-sample frames so the planted voiced
    spans align with a frame-grid VAD.  Energy bands are separated by ~4
    orders of magnitude (voiced frame mean-square ~1e8, silence ~2e4), so
    any threshold between them must recover exactly the planted segments.
    Shared data GENERATOR (like make_image / make_shot_frames): the engine
    and the expected-values twin both consume it; the frame-energy VAD and
    segment-merge math is what each side implements independently."""
    h64 = xxh64(audio_id.encode())
    rng = np.random.default_rng(h64 & 0xFFFFFFFF)
    n_voiced = 2 + h64 % 3
    segs: list[tuple[str, int]] = []
    for _ in range(n_voiced):
        segs.append(("s", 2 + int(rng.integers(0, 5))))
        segs.append(("v", 3 + int(rng.integers(0, 8))))
    segs.append(("s", 2 + int(rng.integers(0, 5))))
    freq = 150.0 + (h64 % 250)
    out = []
    pos = 0
    for kind, nf in segs:
        n = nf * frame
        t = (np.arange(n) + pos) / rate
        if kind == "v":
            w = 0.45 * np.sin(2 * np.pi * freq * t) + 0.01 * rng.standard_normal(n)
        else:
            w = 0.004 * rng.standard_normal(n)
        out.append(np.clip(w * 32767, -32768, 32767).astype(np.int16))
        pos += n
    return np.concatenate(out)


_ARRIVAL_CLASSES = (
    "png", "jpeg", "gif", "bmp", "webp_vp8l",      # decodable (real codecs)
    "webp_vp8", "webp_vp8x",                        # unsupported lossy/ext
    "trunc_png",                                    # corrupt
    "garbage",                                      # unknown container
)


def make_mixed_arrival(image_id: str, cls: int) -> bytes:
    """Shared data GENERATOR (round 5, quarantine plane): one wire arrival
    of class ``cls % 9`` — five real decodable encodings of the smooth
    fixture, a syntactically-valid RIFF/WEBP container whose payload is a
    lossy 'VP8 ' (resp. extended 'VP8X') chunk the pure-Python stack
    cannot decode, a PNG truncated mid-IDAT, and magic-less garbage. The
    quarantine operator must decode the first five and ROUTE (never raise
    on) the last four."""
    import struct as _struct

    kind = _ARRIVAL_CLASSES[cls % len(_ARRIVAL_CLASSES)]
    h64 = xxh64(image_id.encode())
    if kind in ("png", "trunc_png"):
        from .png import encode_png

        data = encode_png(make_smooth_image(image_id))
        if kind == "png":
            return data
        return data[: max(40, int(len(data) * 0.6))]
    if kind == "jpeg":
        from .jpeg import encode_jpeg

        return encode_jpeg(make_smooth_image(image_id), quality=80)
    if kind == "gif":
        from .gif import encode_gif

        return encode_gif(make_smooth_image(image_id))[0]
    if kind == "bmp":
        from .bmp import encode_bmp

        return encode_bmp(make_smooth_image(image_id))
    if kind == "webp_vp8l":
        from .webp import encode_webp

        return encode_webp(make_smooth_image(image_id))
    if kind in ("webp_vp8", "webp_vp8x"):
        fourcc = b"VP8 " if kind == "webp_vp8" else b"VP8X"
        payload = bytes(
            (h64 >> (8 * (i % 8))) & 255 for i in range(16)
        )
        chunk = fourcc + _struct.pack("<I", len(payload)) + payload
        return b"RIFF" + _struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
    # garbage: deterministic bytes with no known magic
    rng = np.random.default_rng(h64 & 0xFFFFFFFF)
    return b"\x00\x01" + rng.integers(0, 256, 62, dtype=np.uint8).tobytes()


BOMB_CLASSES = ("normal", "pixel_bomb", "ratio_bomb")


def make_bomb_arrival(image_id: str, cls: int) -> bytes:
    """Shared data GENERATOR (batch 49, bomb-gate plane): a real PNG of the
    smooth fixture whose IHDR *declared* dims are patched per class —
    'pixel_bomb' declares 64-96 Mpx (the PIL decompression-bomb shape),
    'ratio_bomb' declares ~16 Mpx in a ~1.5 KB file (zip-bomb ratio),
    'normal' is untouched. The patch deliberately leaves the IHDR CRC
    stale: the gate must act on DECLARED dims before any decode (a real
    bomb carries a valid CRC; the stale one only matters to a decoder,
    which the gate exists to protect)."""
    from .png import encode_png

    data = bytearray(encode_png(make_smooth_image(image_id)))
    kind = BOMB_CLASSES[cls % len(BOMB_CLASSES)]
    if kind == "normal":
        return bytes(data)
    h64 = xxh64(image_id.encode())
    if kind == "pixel_bomb":
        w, h = 8000 + (h64 % 5) * 1000, 8000
    else:
        w, h = 2300, 2300
    data[16:20] = w.to_bytes(4, "big")
    data[20:24] = h.to_bytes(4, "big")
    return bytes(data)


def make_watermarked(image_id: str) -> "np.ndarray":
    """Shared data GENERATOR (batch 22, like make_smooth_image): the smooth
    fixture with a deterministic solid watermark stamped into the
    bottom-right quadrant's inner half — the classic vendor-logo overlay
    that breaks exact/global-perceptual dedup while leaving three
    quadrants untouched. Color derives from the id hash so watermarks
    vary across images."""
    pix = make_smooth_image(image_id).copy()
    h, w = pix.shape[:2]
    h64 = xxh64(image_id.encode())
    color = ((h64 >> 32) & 255, (h64 >> 40) & 255, (h64 >> 48) & 255)
    pix[h - h // 4:, w - w // 4:] = color
    return pix


def make_text_overlay_image(item_id: str) -> "np.ndarray":
    """Shared data GENERATOR (batch 59): 'p:<id>' → the smooth fixture
    unchanged; 'tx:<id>' → the same base with horizontal TEXT BANDS
    stamped in: within each band row, short alternating dark/light runs
    (run length 2 + h64%3 px) — the high-frequency horizontal transition
    signature of rendered glyph rows that text-overlay/meme detectors key
    on. Bands cover every other 3-row group in the middle half of the
    image, so text-like rows are ~25-50% of the height."""
    kind, _, base_id = item_id.partition(":")
    if kind not in ("p", "tx"):
        raise ValueError(f"unknown text-overlay item kind {item_id!r}")
    pix = make_smooth_image(base_id).copy()
    if kind == "p":
        return pix
    h, w = pix.shape[:2]
    h64 = xxh64(base_id.encode())
    run = 2 + h64 % 3
    y0, y1 = h // 4, 3 * h // 4
    xs = np.arange(w)
    for y in range(y0, y1):
        if ((y - y0) // 3) % 2 == 0:
            vals = np.where((xs // run) % 2 == 0, 235, 20).astype(np.uint8)
            pix[y, :, 0] = vals
            pix[y, :, 1] = vals
            pix[y, :, 2] = vals
    return pix
