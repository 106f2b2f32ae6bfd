/* Keccak-f[1600] and the Keccak-256 absorb step (rate 136 bytes), from the
 * public Keccak/FIPS-202 specification.  functions/hashing.py builds this
 * file with the host's C compiler and calls keccak_absorb through ctypes;
 * padding and squeezing stay in Python.  Lanes are loaded byte by byte as
 * little-endian words, so the result does not depend on the host's byte
 * order. */
#include <stddef.h>
#include <stdint.h>

#define RATE 136
#define ROTL(x, n) (((x) << (n)) | ((x) >> (64 - (n))))

static const uint64_t RC[24] = {
    0x0000000000000001ULL, 0x0000000000008082ULL, 0x800000000000808AULL,
    0x8000000080008000ULL, 0x000000000000808BULL, 0x0000000080000001ULL,
    0x8000000080008081ULL, 0x8000000000008009ULL, 0x000000000000008AULL,
    0x0000000000000088ULL, 0x0000000080008009ULL, 0x000000008000000AULL,
    0x000000008000808BULL, 0x800000000000008BULL, 0x8000000000008089ULL,
    0x8000000000008003ULL, 0x8000000000008002ULL, 0x8000000000000080ULL,
    0x000000000000800AULL, 0x800000008000000AULL, 0x8000000080008081ULL,
    0x8000000000008080ULL, 0x0000000080000001ULL, 0x8000000080008008ULL,
};
/* rho rotation and pi destination of each lane, in pi-cycle order */
static const int ROTC[24] = {1, 3, 6, 10, 15, 21, 28, 36, 45, 55, 2, 14,
                             27, 41, 56, 8, 25, 43, 62, 18, 39, 61, 20, 44};
static const int PILN[24] = {10, 7, 11, 17, 18, 3, 5, 16, 8, 21, 24, 4,
                             15, 23, 19, 13, 12, 2, 20, 14, 22, 9, 6, 1};

static void keccak_f(uint64_t st[25]) {
    uint64_t bc[5], t;
    for (int r = 0; r < 24; r++) {
        for (int i = 0; i < 5; i++) /* theta */
            bc[i] = st[i] ^ st[i + 5] ^ st[i + 10] ^ st[i + 15] ^ st[i + 20];
        for (int i = 0; i < 5; i++) {
            t = bc[(i + 4) % 5] ^ ROTL(bc[(i + 1) % 5], 1);
            for (int j = 0; j < 25; j += 5) st[j + i] ^= t;
        }
        t = st[1]; /* rho and pi */
        for (int i = 0; i < 24; i++) {
            int j = PILN[i];
            bc[0] = st[j];
            st[j] = ROTL(t, ROTC[i]);
            t = bc[0];
        }
        for (int j = 0; j < 25; j += 5) { /* chi */
            for (int i = 0; i < 5; i++) bc[i] = st[j + i];
            for (int i = 0; i < 5; i++)
                st[j + i] ^= ~bc[(i + 1) % 5] & bc[(i + 2) % 5];
        }
        st[0] ^= RC[r]; /* iota */
    }
}

/* XOR each of the nblocks 136-byte blocks of buf into the state and apply
 * Keccak-f[1600] after each. */
void keccak_absorb(uint64_t st[25], const unsigned char *buf, size_t nblocks) {
    for (; nblocks--; buf += RATE) {
        for (int i = 0; i < RATE / 8; i++) {
            uint64_t w = 0;
            for (int k = 7; k >= 0; k--) w = w << 8 | buf[8 * i + k];
            st[i] ^= w;
        }
        keccak_f(st);
    }
}
